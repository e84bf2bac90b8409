package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming per-key quota — the domain-mixing budget
  * ([[graft.functions.SamplingFunctions.quotaPerGroup]]) as a
  * streaming operator: admit rows for a key only while the key's
  * CUMULATIVE admitted count (across all micro-batches so far) is
  * under `budget`. The streaming face of per-source capping: once a
  * crawl source has contributed its budget, later batches from it are
  * dropped at ingest.
  *
  * Drive from `foreachBatch` (or any loop of bounded frames). State is
  * one `(key, n)` admitted-count delta row per key per batch in a
  * [[BatchPartitionedStore]] under `stateDir` (replay safety,
  * `compactEvery` and crash-safe compaction are the store's). The
  * state read and write of one batch never touch the same files; the
  * live "used" view is `sum(n)` per key. State size is
  * control-plane-bounded: |keys seen| × |batches since compact|, never
  * row-scaled.
  *
  * Admission within a batch is deterministic: rows rank by
  * (`orderCol`, `tieCol`) per key and fill the remaining budget in
  * that order — re-running the same batch sequence admits the same
  * rows (the retry/replay property every deterministic sampler in
  * [[graft.functions.SamplingFunctions]] guarantees).
  *
  * At cluster scale: the state side of the join is tiny and
  * broadcast; the batch side shuffles once on the key for the ranking
  * window. The admitted output is eagerly materialized
  * (strategy-selected, see `materialize`) before the state append so
  * the side effect and the returned frame agree even if the caller
  * re-evaluates lazily.
  */
/** @param materialize pin strategy for the admitted output
  *   ([[graft.operators.Materialize]]) — must resolve EAGER
  *   (LocalCheckpoint default, ReliableCheckpoint / session conf
  *   `graft.materialize=reliable` for cluster runs): the returned
  *   frame must be the exact rows whose delta was just written to the
  *   state; a lazy pin could recompute against a state that has since
  *   grown and return a DIFFERENT admitted set than was counted. */
/** @param compactEvery fold the deltas every N batches (0 = off), as
  *   [[BatchPartitionedStore]] describes. */
final class StreamingQuota(spark: SparkSession, stateDir: String,
    keyCol: String, orderCol: String, tieCol: String, budget: Int,
    materialize: graft.operators.Materialize =
      graft.operators.Materialize.SessionDefault("StreamingQuota.admitted"),
    compactEvery: Int = 0) {
  require(budget > 0, "budget must be positive")

  private val store = new BatchPartitionedStore(spark, stateDir, Seq("batch_id"),
    compactEvery, _.repartition(1), BatchPartitionedStore.sumPerKey(keyCol, Seq("n")))

  /** Cumulative admitted count per key (the fold of all deltas);
    * None before the first admission. */
  def used(): Option[DataFrame] = usedExcluding(-1L)

  private def usedExcluding(batchId: Long): Option[DataFrame] =
    store.state(batchId).map(_.withColumnRenamed("n", "graft_used"))

  /** Admit up to the remaining budget per key from `batch`; write the
    * per-key admitted counts to the state and return the admitted
    * rows (original schema).
    *
    * REPLAY SAFETY: pass the foreachBatch `batchId` — a replayed batch
    * admits EXACTLY the rows of its first attempt (the store's replay
    * view and overwrite). The -1 default appends, for bounded-loop
    * callers. */
  def admit(batch: DataFrame, batchId: Long = -1L): DataFrame = {
    store.compactIfDue(batchId)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    val ranked = batch.withColumn("graft_rk", row_number().over(w))
    val withUsed = usedExcluding(batchId)
      .fold(ranked.withColumn("graft_used", lit(0L)))(u =>
        ranked.join(broadcast(u), Seq(keyCol), "left"))
    // resolveEagerFor: a session-conf 'persist' (the advertised
    // one-flag knob) falls back to LocalCheckpoint with a warning;
    // an EXPLICITLY passed lazy strategy still fails this require
    val m = materialize.resolveEagerFor(batch)
    require(m.isEager, s"StreamingQuota needs an EAGER Materialize " +
      s"strategy (LocalCheckpoint or ReliableCheckpoint), got $m — a " +
      "lazy pin could recompute the admitted set against a grown state")
    val admitted = m(withUsed
      .filter(coalesce(col("graft_used"), lit(0L)) + col("graft_rk") <= budget)
      .drop("graft_rk", "graft_used"))
    store.write(admitted.groupBy(col(keyCol)).agg(count(lit(1)).as("n")), batchId)
    admitted
  }

  /** Fold the deltas into one row per key in the `batch_id=-2` sentinel
    * partition (storage reclaim; crash-safe — a crash can never
    * silently reset budgets and over-admit exhausted keys). Run it
    * only for ids past the stream's committed checkpoint: folding
    * erases per-batch attribution. */
  def compact(): Unit = store.compact()
}
