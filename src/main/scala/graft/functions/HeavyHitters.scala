package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Misra–Gries heavy hitters: a fixed-size frequency summary that
  * finds every item occurring more than `n / (capacity+1)` times in
  * ONE pass with `capacity` counters — the streaming/distributed
  * answer to "top tokens / domains / users" when the key space is too
  * big to groupBy-count (a 100 TB corpus has billions of distinct
  * tokens; the sketch holds the few thousand that matter).
  *
  * The sketch is a [[Summary]], whose two aggregators give it the
  * build/merge lifecycle and the null-state rule: each partition builds
  * a local sketch, and the MERGE combines sketches pairwise. Misra–Gries
  * summaries are closed under that merge (Agarwal et al., "Mergeable
  * Summaries", PODS'12): sum counters, then subtract the (capacity+1)
  * largest combined count and drop non-positives. The merged guarantee
  * is the same as single-pass: reported >= true - n/(capacity+1),
  * reported <= true, and NO item above the threshold is lost —
  * regardless of partitioning, which is what makes the aggregator
  * safe under AQE/retries (HeavyHittersSpec pins all three bounds
  * across partitionings).
  *
  * With `capacity` >= |distinct keys| no counter is ever evicted and
  * the sketch IS the exact count map — q90 gates that regime against
  * a DuckDB groupBy-count oracle, so the aggregation plumbing (add,
  * merge) is hash-verified; the spec covers the lossy regime.
  */
object HeavyHitters {

  final class MisraGries(capacity: Int) extends Summary[String, Map[String, Long]] {
    require(capacity >= 1, s"capacity must be positive: $capacity")
    override def zero: Map[String, Long] = Map.empty

    /** The decremented-counter update: O(1) amortized per row; a miss on
      * a full sketch decrements ALL counters by one (conceptually one
      * shared occurrence of each), dropping zeros. */
    override def add(buf: Map[String, Long], key: String): Map[String, Long] =
      if (key == null) buf // built-in aggregates skip nulls; so do we
      else buf.get(key) match {
        case Some(c) => buf.updated(key, c + 1)
        case None if buf.size < capacity => buf.updated(key, 1L)
        case None =>
          buf.view.mapValues(_ - 1).filter(_._2 > 0).toMap
      }

    /** Mergeable-summaries combine: sum, then rank-truncate back to
      * `capacity` by subtracting the (capacity+1)-th largest count. */
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val summed = b.foldLeft(a) { case (acc, (k, v)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + v)
      }
      if (summed.size <= capacity) summed
      else {
        val cut = summed.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
        summed.view.mapValues(_ - cut).filter(_._2 > 0).toMap
      }
    }

    override def inputEncoder: Encoder[String] = Encoders.STRING
    override def stateEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Aggregate column: MAP<STRING, BIGINT> of surviving counters for
    * the rows of the group (use under `groupBy` for per-group sketches
    * or alone for a global one). */
  def sketch(key: Column, capacity: Int): Column =
    Summary.buildState(new MisraGries(capacity))(key)

  /** Merge STORED sketch maps (the [[sketch]] output doubles as the
    * storable state): persist per-slice frequency maps, answer
    * cross-slice top-k by merging the handful of state rows. Closed
    * under the mergeable-summaries combine, so the merged guarantee
    * equals the single-pass one; with capacity ≥ |distinct keys|
    * everywhere it is exact (the q130 gate). */
  def mergeSketches(state: Column, capacity: Int): Column =
    Summary.mergeState(new MisraGries(capacity))(state)
}
