package graft.operators

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StatsBridge

/** The one fixed-point driver behind the iterative batch operators
  * ([[graft.functions.DedupFunctions.dupClusters]], [[Hierarchy]],
  * [[PageRank]]): an operator supplies its step and, when it has one,
  * its convergence test; the driver owns the round mechanics.
  *
  * Each round runs the step on the previous round's frame and pins the
  * result EAGERLY with `observe(count[, changed]).localCheckpoint(true)`:
  *  - the checkpoint leaf keeps every round's analyzed plan constant-
  *    sized (a self-join step under plain caching doubles the logical
  *    plan per round, and the analyzer re-walks all of it);
  *  - the metrics ride the pin's own job: the round's row count, and
  *    the rows where `changed` holds — zero of those is convergence.
  *    Should the metric not surface (plan-shape drift), the verdict
  *    falls back to an explicit count job: correctness over speed;
  *  - the leaf's statistics are clamped to the observed row count
  *    ([[StatsBridge.clampStats]]): localCheckpoint copies the round's
  *    join-product size estimate onto the leaf, and each later round's
  *    references would compound it;
  *  - the previous round's frame is freed once the pin has run, at the
  *    RDD for a checkpoint leaf (Dataset.unpersist never frees those
  *    blocks), so live checkpoint storage is one round's output rather
  *    than one per round until some future GC. The init frame is the
  *    driver's to free as well.
  * When the call throws (a failing step, or a `strict` cap hit) the
  * current round's frame is freed before the exception leaves.
  *
  * Rounds are recorded: every job a pin runs carries the local
  * property `graft.iterate` = `<name>:<callId>:<round>`, which
  * [[graft.tools.QueryTrace]] counts per job group. A job group of its
  * own would move the rounds' shuffles out of the caller's group. */
object Iterate {

  /** The local property that tags a round's jobs. */
  val RoundTag = "graft.iterate"

  private val Metrics = "graft_iterate"
  private val calls = new AtomicLong(0L)

  /** Whether the most recent round read its metrics from the observed
    * pin (vs the count fallback): a Spark upgrade that silently stops
    * surfacing observe-on-checkpoint shows up as a test failure, not a
    * quiet extra job per round. */
  private[graft] val lastConvergenceViaObserve = new AtomicBoolean(false)

  /** One round: its index from 0, and [[cache]] for the frames the step
    * references more than once — unpersisted once the round is pinned. */
  final class Round private[Iterate] (val index: Int) {
    private[Iterate] var cached = List.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached ::= df; df.persist() }
  }

  /** Run `step` from `init` until `changed` holds on no row of a
    * round's output, or for `maxRounds` rounds. Without `changed` every
    * round runs. On a cap hit before convergence the call throws
    * `IllegalStateException` when `strict`, else logs a warning and
    * returns the partial result. `init` passes to the driver, which
    * frees it once round 0 is pinned; with `maxRounds <= 0` no round
    * runs and `init` comes back as it was. */
  def apply(name: String, init: DataFrame, maxRounds: Int,
      changed: Option[Column] = None, strict: Boolean = false)
      (step: (DataFrame, Round) => DataFrame): DataFrame = {
    val sc = init.sparkSession.sparkContext
    val call = calls.incrementAndGet()
    val changedRows = changed.map(c => count(when(c, 1)).as("changed")).toSeq
    var cur = init
    var round = new Round(0)
    var converged = false
    try {
      while (!converged && round.index < maxRounds) {
        val obs = step(cur, round).observe(Metrics, count(lit(1)).as("n"), changedRows: _*)
        val outer = sc.getLocalProperty(RoundTag)
        sc.setLocalProperty(RoundTag, s"$name:$call:${round.index}")
        try {
          val prev = cur
          cur = obs.localCheckpoint(true)
          round.cached.foreach(_.unpersist())
          free(prev)
          val row = obs.queryExecution.observedMetrics.get(Metrics)
          lastConvergenceViaObserve.set(row.isDefined)
          converged = changed.exists(c =>
            row.fold(cur.filter(c).limit(1).count())(_.getAs[Long]("changed")) == 0L)
          row.foreach(r => cur = StatsBridge.clampStats(cur, r.getAs[Long]("n")))
        } finally sc.setLocalProperty(RoundTag, outer)
        round = new Round(round.index + 1)
      }
      if (!converged && changed.isDefined) {
        val msg = s"$name: round cap $maxRounds hit before convergence — the result is partial"
        if (strict) throw new IllegalStateException(msg)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
      cur
    } catch { case e: Throwable =>
      round.cached.foreach(_.unpersist())
      free(cur)
      throw e
    }
  }

  /** Free `df`'s blocks: at the RDD for a checkpoint leaf (whose blocks
    * never enter the CacheManager), else its cache entry, if any. */
  private[graft] def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
