package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GlobalIndex: the distributed row numbering must equal the
  * single-partition `row_number` truth, stay stable across runs, scale
  * without a global sort, and keep its two consumers on ONE reused
  * range exchange (the correctness precondition documented on the
  * operator).
  */
class GlobalIndexSpec extends SparkSpec {

  import spark.implicits._

  test("matches row_number over a total order, multi-partition") {
    val df = spark.range(0, 1000).select(
      // scrambled insertion order, unique key
      ((col("id") * 7919) % 1000).as("k"), col("id").as("payload"))
      .repartition(7)
    val got = GlobalIndex.withRowIndex(df, Seq(col("k")), numPartitions = Some(8))
      .select("k", "idx").as[(Long, Long)].collect().toMap
    // keys are 0..999 exactly once → idx must equal the key's rank = key
    assert(got.size == 1000)
    (0L until 1000L).foreach(k => assert(got(k) == k, s"k=$k got ${got(k)}"))
  }

  test("dense 0..n-1 with composite keys and duplicate first key") {
    val df = Seq(("b", 2), ("a", 2), ("b", 1), ("a", 1), ("c", 0))
      .toDF("g", "i")
    val got = GlobalIndex.withRowIndex(df, Seq(col("g"), col("i")),
        numPartitions = Some(3))
      .orderBy("idx").select("g", "i", "idx")
      .as[(String, Int, Long)].collect().toList
    assert(got == List(("a", 1, 0L), ("a", 2, 1L), ("b", 1, 2L),
      ("b", 2, 3L), ("c", 0, 4L)))
  }

  test("stable across repeated runs despite sampled boundaries") {
    val df = spark.range(0, 500).select(
      ((col("id") * 104729) % 500).as("k")).repartition(5)
    val a = GlobalIndex.withRowIndex(df, Seq(col("k")), numPartitions = Some(6))
      .select("k", "idx").as[(Long, Long)].collect().toSet
    val b = GlobalIndex.withRowIndex(df, Seq(col("k")), numPartitions = Some(6))
      .select("k", "idx").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("plan: the data moves exactly once — no second hash exchange, no global sort") {
    val df = spark.range(0, 100).select(col("id").as("k"))
    val out = GlobalIndex.withRowIndex(df, Seq(col("k")), numPartitions = Some(4))
    out.collect() // AQE finalizes the physical plan on execution
    val plan = out.queryExecution.executedPlan.toString
    // the pre-fix shape planned Exchange hashpartitioning(_pid) under
    // the local-rank window — EVERY row shuffled a second time (range
    // partitioning doesn't satisfy the window's clustering). Now the
    // local rank is a narrow per-partition pass; the only hash
    // exchange allowed is the control-plane one above the
    // partial-aggregated per-partition counts (<= 1 occurrence), and
    // the only SinglePartition exchange is the offset prefix-sum
    // AQE's toString prints the FINAL plan followed by the initial
    // one — count only the final section or every exchange doubles
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1,
      s"data must not re-shuffle after the range exchange ($hashEx hash exchanges):\n$plan")
    // the ranked pass is MATERIALIZED (localCheckpoint): every branch
    // reads the checkpointed RDD — the input pipeline and its range
    // exchange ran exactly once, by construction rather than by the
    // fragile exchange-reuse canonical match (which measurably broke
    // under composition: q65 re-ran the whole input per branch)
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"branches must read the checkpointed pass:\n$plan")
    assert(!finalPlan.contains("Exchange rangepartitioning"),
      s"the range exchange must be inside the one materialized pass:\n$plan")
  }

  test("empty input yields empty output with the index column present") {
    val df = Seq.empty[Long].toDF("k")
    val out = GlobalIndex.withRowIndex(df, Seq(col("k")))
    assert(out.columns.contains("idx") && out.count() == 0)
  }

  test("withRowIndexAndCount: the global n rides the same plan, exchange still reused") {
    val df = spark.range(0, 777).select(
      ((col("id") * 7919) % 777).as("k")).repartition(5)
    val out = GlobalIndex.withRowIndexAndCount(df, Seq(col("k")),
      numPartitions = Some(6))
    out.collect() // AQE finalizes (and reuses exchanges) on execution
    val rows = out.select("k", "idx", "n_total")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 777)
    assert(rows.forall(_._3 == 777L), "every row must carry the global n")
    rows.foreach { case (k, idx, _) => assert(idx == k) }
    // still ONE evaluation of the ranged data: offsets, count, and
    // the output join all read the checkpointed pass — no branch can
    // re-run the input pipeline (or re-sample range boundaries)
    val plan = out.queryExecution.executedPlan.toString
    val fin = plan.split("== Initial Plan ==").head
    assert(fin.contains("Scan ExistingRDD"),
      s"adding the count must read the checkpointed pass:\n$plan")
    assert(!fin.contains("Exchange rangepartitioning"),
      s"adding the count must not add a data pass:\n$plan")
    // ntile-style positional statistics come out closed-form
    val quartiles = out
      .withColumn("tile", expr(
        """CASE WHEN idx < (n_total % 4) * (n_total div 4 + 1)
          |  THEN idx div (n_total div 4 + 1)
          |  ELSE n_total % 4 +
          |    (idx - (n_total % 4) * (n_total div 4 + 1))
          |      div greatest(n_total div 4, 1)
          |END + 1""".stripMargin))
      .groupBy("tile").count().orderBy("tile")
      .as[(Long, Long)].collect().toList
    // 777 = 4*194 + 1 -> tile sizes 195,194,194,194
    assert(quartiles == List((1L, 195L), (2L, 194L), (3L, 194L), (4L, 194L)),
      s"got $quartiles")
  }

  test("withRowIndexAndCount: empty input stays empty") {
    val df = Seq.empty[Long].toDF("k")
    val out = GlobalIndex.withRowIndexAndCount(df, Seq(col("k")))
    assert(out.columns.contains("n_total") && out.count() == 0)
  }
}
