package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense global row numbering 0..n−1 in a total key order — WITHOUT the
  * single-partition window a naive `row_number() OVER (ORDER BY k)`
  * plans (which funnels the entire table through one task: the classic
  * 100 TB cliff; Spark's own `zipWithIndex` solves this at RDD level
  * and this is its DataFrame-native, order-aware form).
  *
  * Training pipelines need this exact shape: a deterministic global
  * sample order (curriculum position, shard assignment, epoch-stable
  * shuffles) over corpora that no single task can hold.
  *
  * How: range-partition on the key (partition p holds keys entirely
  * below partition p+1 — `repartitionByRange` pins this), number rows
  * WITHIN each partition (task-local sort + one narrow mapPartitions
  * pass — NOT a `partitionBy(spark_partition_id())` window, which
  * plans a second full-data hash exchange), aggregate ONE ROW PER
  * PARTITION to get partition sizes, prefix-sum those into offsets (a
  * window over control-plane-sized data: 10⁴ partitions = 10⁴ rows
  * however big the table), and broadcast-join the offsets back on
  * partition id.
  *
  * The ranked pass is MATERIALIZED once and every consumer (data join,
  * offsets, count) reads that one materialization — a correctness
  * requirement, not just a saving, because `repartitionByRange` samples
  * boundaries with an RDD-id-derived seed, so two separate
  * materializations could legally pick different boundaries and the
  * offsets would then belong to a different partitioning than the
  * local ranks (GlobalIndexSpec pins the plan shape). The pin is an
  * eager `localCheckpoint()`: it truncates lineage, so a lost executor
  * fails the job, which is re-run. The final index is
  * boundary-invariant: it equals the global rank of the key under ANY
  * ordered partitioning, so run-to-run results are identical even
  * though sampled boundaries may not be.
  *
  * Requires `keys` to be a TOTAL order (unique combination) — ties
  * would make the numbering nondeterministic; append a unique id column
  * as the last key to break ties.
  */
object GlobalIndex {

  def withRowIndex(
      df: DataFrame,
      keys: Seq[Column],
      indexCol: String = "idx",
      numPartitions: Option[Int] = None): DataFrame =
    indexed(df, keys, indexCol, numPartitions, countCol = None)

  /** [[withRowIndex]] plus the GLOBAL row count as a column — rank AND
    * n in one plan, which is exactly what positional statistics need
    * (ntile/percentile/quantile-split: the bucket is a closed-form
    * function of (rank, n)). The count falls out of the SAME
    * control-plane offsets relation the ranking already builds (max
    * of offset + partition size), so no second pass over the data and
    * no caller-side materialize-then-count — the q65 lesson made
    * reusable. */
  def withRowIndexAndCount(
      df: DataFrame,
      keys: Seq[Column],
      indexCol: String = "idx",
      countCol: String = "n_total",
      numPartitions: Option[Int] = None): DataFrame =
    indexed(df, keys, indexCol, numPartitions, countCol = Some(countCol))

  private def indexed(
      df: DataFrame,
      keys: Seq[Column],
      indexCol: String,
      numPartitions: Option[Int],
      countCol: Option[String]): DataFrame = {
    require(keys.nonEmpty, "at least one ordering key")
    // internal names fail fast (the Merge/TableDiff discipline): a
    // caller column with one of these names would be silently
    // shadowed and then dropped from the output
    Seq("_pid", "_local", "_offset", "_n").foreach(n =>
      require(!df.columns.contains(n),
        s"column name $n is reserved by GlobalIndex"))
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val ranged = numPartitions
      .map(n => df.repartitionByRange(n, keys: _*))
      .getOrElse(df.repartitionByRange(keys: _*))

    // local rank WITHOUT a window: `Window.partitionBy(
    // spark_partition_id())` looks task-local but plans an `Exchange
    // hashpartitioning(_pid)` — range partitioning does not satisfy
    // the window's clustering requirement, so EVERY row shuffled a
    // SECOND time, silently doubling the operator's dominant cost
    // (caught by plan inspection; the spec now pins its absence). A
    // sortWithinPartitions + narrow per-partition pass assigns
    // (pid, local) in place — zero additional movement.
    val sorted = ranged.sortWithinPartitions(keys: _*)
    val outSchema = StructType(sorted.schema.fields :+
      StructField("_pid", IntegerType, nullable = false) :+
      StructField("_local", LongType, nullable = false))
    val localRaw = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = -1L
      it.map { r => i += 1; Row.fromSeq(r.toSeq :+ pid :+ i) }
    }(Encoders.row(outSchema))
    // MATERIALIZED once (eager localCheckpoint):
    // exchange reuse across the data/offsets/count branches is the
    // boundary-consistency precondition, and it is FRAGILE under
    // composition — with an upstream aggregation, column pruning
    // pushes different Projects under each branch's copy of the range
    // exchange, canonical forms diverge, and the runtime plan re-ran
    // the ENTIRE input pipeline per branch (measured on q65: 3 parquet
    // scans, 4 range exchanges, 0 reuse) — with each copy legally
    // sampling DIFFERENT range boundaries. One materialized pass is
    // both the single-data-movement claim made here and the guarantee
    // every consumer sees the same partitioning.
    val local = localRaw.localCheckpoint()

    // one row per partition → exclusive prefix sum. Partial
    // aggregation folds each partition to ONE row BEFORE this
    // exchange, and the orderBy-only window is single-partition over
    // numPartitions rows — that is the control plane, not the data.
    // Counts read the mapPartitions OUTPUT, not `ranged` directly:
    // reading `ranged` lets column pruning push a different Project
    // under each branch's copy of the range exchange, their canonical
    // forms diverge, and exchange reuse — the boundary-consistency
    // precondition — silently breaks (two shuffles of the data, and
    // legally two DIFFERENT sampled boundary sets). Sharing `local`
    // pins one exchange subtree; the counts branch re-runs only the
    // task-local sort+pass (CPU, zero extra movement).
    val counts = local.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_n"))
    val offsets = counts
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_n")

    val ranked = local.join(broadcast(offsets), Seq("_pid"), "left")
      .withColumn(indexCol,
        (coalesce(col("_offset"), lit(0L)) + col("_local")).cast("long"))
      .drop("_pid", "_local", "_offset")

    countCol.fold(ranked) { nc =>
      // the total is the same control-plane counts relation folded to
      // one row; both aggregations hang off the one range exchange
      // (reuse), so the data is still touched once
      val total = counts.agg(
        coalesce(sum(col("_n")), lit(0L)).cast("long").as(nc))
      ranked.crossJoin(broadcast(total))
    }
  }
}
