package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec

/** Every native kernel has two evaluation paths derived from one
  * method reference: the call in whole-stage generated code, and the
  * reflective call Spark makes where it does not generate code (inside
  * a higher-order-function lambda, or with codegen off). Both must give
  * the same rows, nulls included.
  */
class KernelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("tk", ArrayType(StringType)),
    StructField("hs", ArrayType(LongType)), StructField("hs2", ArrayType(LongType)),
    StructField("v", ArrayType(DoubleType)), StructField("w", ArrayType(DoubleType)),
    StructField("f", ArrayType(FloatType)), StructField("codes", ArrayType(IntegerType)),
    StructField("l", LongType), StructField("x", IntegerType), StructField("y", IntegerType)))

  private val rows = Seq(
    Row("The quick brown Fox 42!", Seq("aa", "bb", "aa"), Seq(1L, 2L, 3L),
      Seq(1L, 9L, 3L), Seq(0.5, -1.0, 2.0, 0.25), Seq(1.0, 1.0, -0.5, 3.0),
      Seq(0.5f, -1.5f, 2.0f, 0.1f), Seq(1, 0), 7L, 3, 65535),
    Row("été there then", Seq("x", null), Seq(5L, null), Seq(5L),
      Seq(-2.0, 0.0, 1.0, 1.0), Seq(0.0, 0.0, 0.0, 0.0),
      Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(0, 1), 8L, 0, 1),
    Row(null, null, null, null, null, null, null, null, null, null, null))

  private val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
    Array(0.0, 0.0, 1.0, 0.0))
  private val books = Array(
    Array(Array(1.0, 0.0), Array(0.0, 1.0)),
    Array(Array(1.0, 1.0), Array(-1.0, 0.0)))
  private val bf = { val b = BloomFilter.create(100); b.putLong(7L); b }
  private val bpe = new BpeModel(Array(("t", "h"), ("th", "e")))

  private def calls = Seq(
    Hashes.adler32(col("s")), Hashes.simhash64(col("tk")), Hashes.md5Long(col("s")),
    Hashes.md5Long(col("s"), 7), Hashes.bloomContains(col("l"), bf),
    TextFunctions.tokenCount(col("s")), TextFunctions.tokenRuns(col("s")),
    TextFunctions.topTokenCount(col("tk")), TextFunctions.compressionRatio(col("s")),
    TextFunctions.nfc(col("s")),
    DedupFunctions.agree(col("hs"), col("hs2")), DedupFunctions.simhash60Portable(col("hs")),
    VectorFunctions.dot(col("v"), col("w")), VectorFunctions.dot(col("f"), col("f")),
    VectorFunctions.nearestCentroid(col("v"), cents),
    VectorFunctions.topCentroids(col("v"), cents, 2),
    VectorFunctions.srpBucket(col("v"), 4, 8),
    VectorFunctions.pqCodes(col("v"), books),
    VectorFunctions.pqAdcDist(col("w"), col("codes"), books),
    Bpe.tokenCount(col("s"), bpe), ZOrder.zvalue16(col("x"), col("y")))

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel gives the same rows with and without generated code") {
    // read from parquet: a local relation would be folded on the driver
    // and never reach generated code
    val dir = java.nio.file.Files.createTempDirectory("graft-kernel-").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir)
    def run(): (Seq[Row], Boolean) = {
      val df = spark.read.parquet(dir)
        .select(calls.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
      val wholeStage = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.nonEmpty
      (df.collect().toSeq, wholeStage)
    }
    val (generated, ws) = run()
    val (interpreted, wsOff) = withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(ws && !wsOff, s"whole-stage codegen on: $ws, off: ${!wsOff}")
    assert(generated.length == 3 && generated.last.toSeq.forall(_ == null),
      s"a row of nulls gives nulls: ${generated.last}")
    assert(generated.head.toSeq.forall(_ != null), s"non-null row: ${generated.head}")
    generated.zip(interpreted).foreach { case (g, i) =>
      assert(g == i, s"\ngenerated:   $g\ninterpreted: $i")
    }
  }
}
