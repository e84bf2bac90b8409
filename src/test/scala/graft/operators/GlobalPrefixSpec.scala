package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GlobalPrefix: the distributed running sum must equal the
  * single-partition window truth, stay stable across runs, handle
  * negative values and empty input, and keep both consumers on ONE
  * reused range exchange.
  */
class GlobalPrefixSpec extends SparkSpec {

  import spark.implicits._

  test("matches SUM() OVER (ORDER BY) truth, multi-partition, with negatives") {
    val df = spark.range(0, 1000).select(
        ((col("id") * 7919) % 1000).as("k"),
        (when(col("id") % 3 === 0, -1L).otherwise(1L) * (col("id") % 97))
          .as("v"))
      .repartition(7)
    val got = GlobalPrefix.runningSum(df, Seq(col("k")), col("v"),
        numPartitions = Some(8))
      .select("k", "running").as[(Long, Long)].collect().toMap
    val truth = df.select("k", "v").as[(Long, Long)].collect()
      .sortBy(_._1).scanLeft((0L, 0L)) { case ((_, acc), (k, v)) => (k, acc + v) }
      .tail.toMap
    assert(got.size == 1000)
    truth.foreach { case (k, s) => assert(got(k) == s, s"k=$k") }
  }

  test("stable across repeated runs despite sampled boundaries") {
    val df = spark.range(0, 400).select(
      ((col("id") * 104729) % 400).as("k"), lit(1L).as("v")).repartition(5)
    val a = GlobalPrefix.runningSum(df, Seq(col("k")), col("v"),
      numPartitions = Some(6)).select("k", "running")
      .as[(Long, Long)].collect().toSet
    val b = GlobalPrefix.runningSum(df, Seq(col("k")), col("v"),
      numPartitions = Some(6)).select("k", "running")
      .as[(Long, Long)].collect().toSet
    assert(a == b)
    // with v=1 the running sum IS the 1-based rank
    assert(a == (0L until 400L).map(k => k -> (k + 1)).toSet)
  }

  test("plan: the range exchange is reused and the DATA moves exactly once") {
    val df = spark.range(0, 100).select(col("id").as("k"), lit(2L).as("v"))
    val out = GlobalPrefix.runningSum(df, Seq(col("k")), col("v"),
      numPartitions = Some(4))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the accumulated pass is MATERIALIZED (localCheckpoint): the
    // offsets branch and the output join read the same checkpointed
    // RDD — one range exchange by construction, and no branch can
    // re-sample different boundaries (the correctness hazard the old
    // exchange-reuse assertion guarded fragilely)
    assert(plan.split("== Initial Plan ==").head.contains("Scan ExistingRDD"),
      s"branches must read the checkpointed pass:\n$plan")
    assert(!plan.split("== Initial Plan ==").head
      .contains("Exchange rangepartitioning"),
      s"range exchange must be inside the one materialized pass:\n$plan")
    // the pre-fix shape planned Exchange hashpartitioning(_pid) under
    // a data-path window — EVERY row shuffled a second time (range
    // partitioning doesn't satisfy the window's clustering). The only
    // hash exchange allowed now is the control-plane one above the
    // partial-aggregated per-partition totals (<= 1 occurrence)
    // AQE's toString prints the FINAL plan followed by the initial
    // one — count only the final section or every exchange doubles
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1,
      s"data must not re-shuffle after the range exchange ($hashEx hash exchanges):\n$plan")
    // the local prefix ran as the narrow per-partition pass INSIDE
    // the materialized pass — the output plan reads its rows (the
    // _lp column) from the checkpoint rather than re-planning any
    // window over the data
    assert(!finalPlan.contains("windowspecdefinition(") ||
      finalPlan.contains("_pid"),
      s"no data-path window may replace the narrow local pass:\n$plan")
  }

  test("empty input yields empty output with the column present") {
    val out = GlobalPrefix.runningSum(Seq.empty[Long].toDF("k"),
      Seq(col("k")), lit(1L))
    assert(out.columns.contains("running") && out.count() == 0)
  }

  test("null values: window-exact semantics, invariant to partition boundaries") {
    // SUM() OVER (ORDER BY … ROWS UNBOUNDED PRECEDING) ignores nulls:
    // a row is NULL only while NO non-null precedes it in the GLOBAL
    // order. The old implementation emitted NULL for any row before
    // its PARTITION's first non-null even when earlier partitions had
    // contributed — so the same row could be NULL or the carried
    // prefix depending on which partition it landed in.
    val df = spark.range(0, 400).select(
        col("id").as("k"),
        // leading global run of nulls (k<37) + nulls scattered through
        // every later range-partition (k%5==0) — partitions beginning
        // with a null row are guaranteed at 8 partitions over 400 keys
        when(col("id") < 37 || col("id") % 5 === 0, lit(null))
          .otherwise(col("id") % 97).cast("long").as("v"))
      .repartition(7)
    val got = GlobalPrefix.runningSum(df, Seq(col("k")), col("v"),
        numPartitions = Some(8))
      .select("k", "running").as[(Long, Option[Long])].collect().toMap
    // single-sequence truth with window null semantics
    val vals = df.select("k", "v").as[(Long, Option[Long])].collect().sortBy(_._1)
    var acc = Option.empty[Long]
    vals.foreach { case (k, v) =>
      acc = (acc, v) match {
        case (None, None) => None
        case (a, b) => Some(a.getOrElse(0L) + b.getOrElse(0L))
      }
      assert(got(k) == acc, s"k=$k: got ${got(k)}, want $acc")
    }
    // the leading all-null prefix is NULL; everything after k=37 is not
    assert(got(0L).isEmpty && got(36L).isEmpty && got(40L).nonEmpty)
  }
}
