package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global running SUM over a total order — WITHOUT the
  * single-partition window `SUM() OVER (ORDER BY …)` plans (one task
  * accumulates the world: the same 100 TB cliff [[GlobalIndex]]
  * removes for row numbering, generalized here to the prefix-scan
  * monoid). Cumulative revenue curves, Lorenz/market-share curves,
  * token-budget watermarks over a whole corpus — all this shape.
  *
  * Classic two-phase distributed scan: range-partition on the order
  * keys, compute the LOCAL running sum inside each partition (a
  * task-local sort + one narrow mapPartitions pass — NOT a
  * `partitionBy(spark_partition_id())` window, which plans a second
  * full-data hash exchange), aggregate ONE ROW PER PARTITION of
  * totals, exclusive-prefix-sum those (a window over
  * control-plane-sized data), and broadcast-join the offsets back:
  * global prefix = local prefix + partition offset.
  *
  * Like [[GlobalIndex]], the accumulated pass is MATERIALIZED once and
  * both consumers read that one materialization (boundary consistency:
  * boundaries are RDD-id-seeded, so separate materializations could
  * legally differ; GlobalPrefixSpec pins the plan shape). The pin is
  * an eager `localCheckpoint()`: a lost executor fails the job, which
  * is re-run. The result is boundary-invariant: it equals the
  * prefix sum under the total order whatever boundaries the sampler
  * picked.
  *
  * NULL semantics match `SUM() OVER (ORDER BY … ROWS UNBOUNDED
  * PRECEDING)` exactly: a row's prefix is NULL only while NO non-null
  * value precedes it in the GLOBAL order — a row whose partition has
  * seen no non-null yet still gets the carry from earlier partitions
  * (window SUM ignores nulls; it is NULL only over an all-null frame).
  *
  * `keys` must be a TOTAL order; `value` should be integral for
  * cross-engine exactness (sum of longs; ANSI throws on overflow
  * rather than wrapping).
  */
object GlobalPrefix {

  def runningSum(
      df: DataFrame,
      keys: Seq[Column],
      value: Column,
      outCol: String = "running",
      numPartitions: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty, "at least one ordering key")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // the accumulator runs in a narrow per-partition pass, so the
    // internal names fail fast (the Merge/TableDiff discipline): a
    // caller column named _v would be silently replaced then DROPPED
    // from the output, _pid/_lp silently shadowed
    Seq("_v", "_pid", "_lp").foreach(n => require(!df.columns.contains(n),
      s"column name $n is reserved by GlobalPrefix.runningSum"))
    // value type is pinned up front to Spark's own sum widening
    // (integral → long, fractional → double); anything else fails
    // loudly rather than silently mis-accumulating
    val probe = df.withColumn("_v", value).schema("_v").dataType
    val (castTo, isLong) = probe match {
      case ByteType | ShortType | IntegerType | LongType => (LongType, true)
      case FloatType | DoubleType => (DoubleType, false)
      case other => throw new IllegalArgumentException(
        s"runningSum: unsupported value type $other — cast to long or double")
    }
    val withV = df.withColumn("_v", value.cast(castTo))
    val ranged = numPartitions
      .map(n => withV.repartitionByRange(n, keys: _*))
      .getOrElse(withV.repartitionByRange(keys: _*))

    // local running sum WITHOUT a window: partitionBy(
    // spark_partition_id()) plans Exchange hashpartitioning(_pid) — a
    // SECOND full-data shuffle (range partitioning does not satisfy
    // the window's clustering requirement). Task-local sort + one
    // narrow pass, sequential accumulation in exactly the order the
    // window form used — bit-identical results.
    val sorted = ranged.sortWithinPartitions(keys: _*)
    val vIdx = sorted.schema.fieldIndex("_v")
    val outSchema = StructType(sorted.schema.fields :+
      StructField("_pid", IntegerType, nullable = false) :+
      StructField("_lp", castTo, nullable = true))
    val localRaw = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      // window-sum parity, nulls included: SUM over a frame of only
      // nulls is NULL (not 0), so the LOCAL prefix stays null until
      // the partition's first non-null — the final join adds the
      // cross-partition carry (or yields it alone when _lp is null
      // but an earlier partition contributed)
      var seen = false
      if (isLong) {
        var acc = 0L
        it.map { r =>
          // addExact, not +=: the scaladoc promises window-form parity
          // INCLUDING ANSI's throw-on-overflow — a wrapping JVM
          // accumulator would return garbage prefixes exactly where
          // the SQL sum in the offsets branch throws
          if (!r.isNullAt(vIdx)) {
            acc = Math.addExact(acc, r.getLong(vIdx)); seen = true
          }
          Row.fromSeq(r.toSeq :+ pid :+ (if (seen) acc else null))
        }
      } else {
        var acc = 0.0
        it.map { r =>
          if (!r.isNullAt(vIdx)) { acc += r.getDouble(vIdx); seen = true }
          Row.fromSeq(r.toSeq :+ pid :+ (if (seen) acc else null))
        }
      }
    }(Encoders.row(outSchema))
    // MATERIALIZED once (eager localCheckpoint) —
    // same reasoning as [[GlobalIndex]]: exchange reuse between the
    // offsets branch and the output join is the boundary-consistency
    // CORRECTNESS precondition (each re-materialized range exchange
    // legally samples different boundaries, silently mispairing
    // offsets with partitions), and reuse measurably breaks under
    // composition when pruning diverges the branch plans. One
    // materialized pass closes the hazard and pins the
    // one-data-movement cost claim.
    val local = localRaw.localCheckpoint()

    // one total row per partition (partial agg folds BEFORE the
    // exchange — control-plane movement only). Totals read the
    // mapPartitions OUTPUT, not `ranged`: reading `ranged` lets
    // column pruning push a different Project under each branch's
    // copy of the range exchange, canonical forms diverge, and
    // exchange reuse — the boundary-consistency precondition —
    // silently breaks (GlobalIndex note; caught by the spec's reuse
    // assertion when this operator's payload columns became prunable)
    // _offset stays NULLABLE on purpose: NULL means "no partition
    // before this one contributed a non-null value" (sum skips nulls,
    // so an all-null partition's _t is null and doesn't break the
    // carry). That distinction drives the window-exact null rule below.
    val offsets = local.groupBy(col("_pid"))
      .agg(sum(col("_v")).as("_t"))
      .withColumn("_offset",
        sum(col("_t")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .drop("_t")

    local.join(broadcast(offsets), Seq("_pid"), "left")
      // window-SUM-exact null semantics, boundary-invariant: a row
      // with a local prefix adds the carry (0 when it sits in the
      // globally-first contributing partition); a row BEFORE its
      // partition's first non-null gets the carried prefix alone —
      // NULL only when no non-null precedes it in the GLOBAL order.
      // (The old coalesce emitted NULL for such rows even when earlier
      // partitions had contributed, so the answer depended on which
      // partition a row landed in — violating boundary invariance.)
      .withColumn(outCol,
        when(col("_lp").isNotNull,
          coalesce(col("_offset"), lit(0L).cast(castTo)) + col("_lp"))
          .otherwise(col("_offset")))
      .drop("_pid", "_lp", "_offset", "_v")
  }
}
