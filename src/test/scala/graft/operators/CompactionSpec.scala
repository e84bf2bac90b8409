package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Compaction: file count tracks the byte target, contents survive
  * bit-exact, and the sorted variant leaves globally disjoint
  * per-file key ranges (what parquet min/max pruning consumes).
  */
class CompactionSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-compact").toFile
    d.delete(); d.getAbsolutePath
  }

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))

  test("many small files compact to the size-targeted count, content intact") {
    val dir = freshDir()
    val rows = (0 until 2000).map(i => (i.toLong, s"payload-$i-" + ("x" * 50)))
    rows.toDF("id", "body").repartition(32).write.parquet(dir)
    assert(parquetFiles(dir).length == 32, "fixture should start fragmented")

    val total = parquetFiles(dir).map(_.length).sum
    val n = Compaction.compactParquet(spark, dir, targetBytes = total / 4 + 1)

    assert(n >= 3 && n <= 5, s"expected ~4 size-targeted files, got $n")
    assert(parquetFiles(dir).length == n)
    assert(!new java.io.File(dir + ".compact").exists)
    assert(!new java.io.File(dir + ".old").exists)
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back == rows.toSet, "compaction must not change content")
  }

  test("sortBy variant leaves disjoint per-file id ranges") {
    val dir = freshDir()
    (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "body")
      .repartition(16).write.parquet(dir)
    val total = parquetFiles(dir).map(_.length).sum
    Compaction.compactParquet(spark, dir, targetBytes = total / 4 + 1,
      sortBy = Seq("id"))

    val ranges = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("id"))
      .groupBy(col("f")).agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges overlap: $ranges")
      case _ => ()
    }
  }

  test("a crash-stranded dir (only .compact or only .old left) is adopted, then compacted intact") {
    val rows = (0 until 500).map(i => (i.toLong, s"v$i"))
    Seq(".compact", ".old").foreach { sibling =>
      val dir = freshDir()
      rows.toDF("id", "body").repartition(8).write.parquet(dir + sibling)
      assert(!new java.io.File(dir).exists, "fixture: the live dir is missing")
      val n = Compaction.compactParquet(spark, dir, targetBytes = 1L << 30)
      assert(n == 1 && parquetFiles(dir).length == 1, s"$sibling: expected one file, got $n")
      assert(!new java.io.File(dir + ".compact").exists)
      assert(!new java.io.File(dir + ".old").exists)
      val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
      assert(back == rows.toSet, s"$sibling: adopted content must survive the compaction")
    }
  }
}
