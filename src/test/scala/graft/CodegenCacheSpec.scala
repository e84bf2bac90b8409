package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingDomainQuota, StreamingNearDup}

/** Spark's codegen cache is keyed by (context classloader, source) and
  * local mode compiles every class twice (driver and executor loaders),
  * so a streaming operator's steady working set easily exceeds Spark's
  * default 100-entry cap and then recompiles identical code every
  * micro-batch. These rows pin [[GraftSession]]'s cache size: a working
  * set above 100 keys compiles once, not once per round. The compile
  * counter is JVM-wide; suites run one after another in the test JVM,
  * so nothing else moves it while a row runs.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(body: => Unit): Long = {
    val c0 = compiles
    body
    compiles - c0
  }

  test("a fixed plan set above 100 codegen keys compiles once, then never again") {
    // distinct literals give every aggregation its own generated classes
    def round(): Unit = (0 until 40).foreach { i =>
      spark.range(0, 64, 1, 2)
        .select((col("id") % (i + 7)).as("k"), (col("id") * (7919 + i)).as("v"))
        .groupBy("k").agg((sum("v") * (i + 3)).as("s")).collect()
    }
    val first = compilesOf(round())
    assert(first > 100, s"the plan set must exceed Spark's default cap, compiled $first")
    val second = compilesOf(round())
    assert(second == 0, s"second round recompiled $second classes (first round: $first)")
  }

  test("near-dup + domain quota loop: a steady batch compiles only its inlined literals") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen-").toString
    val nd = new StreamingNearDup(spark, dir + "/index", minSim = 0.5)
    val dq = new StreamingDomainQuota(spark, dir + "/quota")
    // every batch has the same shape: fresh docs over three domains, a
    // within-batch copy and a near-duplicate of the previous batch
    def text(b: Int, j: Int): String = (0 until 20).map(w => s"b${b}j${j}w$w").mkString(" ")
    def batch(b: Int): DataFrame = {
      val fresh = (0 until 6).map(j => (b * 100L + j, text(b, j), s"d${j % 3}.example"))
      val near = text(b - 1, 0).replace("w19", "x19")
      (fresh :+ ((b * 100L + 50, text(b, 1), "d1.example")) :+
        ((b * 100L + 60, near, "d2.example"))).toDF("doc_id", "text", "domain")
    }
    def step(b: Int): Unit = {
      dq.admit(nd.processBatch(batch(b), b.toLong), b.toLong).collect()
      ()
    }
    (0 until 4).foreach(step) // first batches differ in shape (empty index, state)
    val perBatch = (4 until 7).map(b => compilesOf(step(b)))
    // the residual: each batch's `ingest_ts` literal is inlined into the
    // near-dup index write (one class, compiled by the driver and the
    // executor loader); the writes' `batch_id` is a string literal,
    // passed to the generated code by reference.
    // The median tolerates one batch whose adaptive re-plan produced a
    // new plan variant as the state grew; with Spark's default cap every
    // batch recompiles most of its working set (~90 classes here).
    assert(perBatch.sorted.apply(1) <= Residual,
      s"steady batches compiled ${perBatch.mkString(", ")} classes, expected <= $Residual")
  }

  private val Residual = 2
}
