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

  /** The hidden sibling `<parent>/.<name><suffix>` of `dir`. */
  private def hidden(dir: String, suffix: String): java.io.File = {
    val f = new java.io.File(dir)
    new java.io.File(f.getParent, s".${f.getName}$suffix")
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
    assert(!hidden(dir, ".next").exists)
    assert(!hidden(dir, ".old").exists)
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
    // the name predates the hidden siblings: ".compact" is now `.<name>.next`
    val rows = (0 until 500).map(i => (i.toLong, s"v$i"))
    Seq(".next", ".old").foreach { sibling =>
      val dir = freshDir()
      rows.toDF("id", "body").repartition(8).write.parquet(hidden(dir, sibling).getPath)
      assert(!new java.io.File(dir).exists, "fixture: the live dir is missing")
      val n = Compaction.compactParquet(spark, dir, targetBytes = 1L << 30)
      assert(n == 1 && parquetFiles(dir).length == 1, s"$sibling: expected one file, got $n")
      assert(!hidden(dir, ".next").exists)
      assert(!hidden(dir, ".old").exists)
      val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
      assert(back == rows.toSet, s"$sibling: adopted content must survive the compaction")
    }
  }

  test("a compacted partition's crash siblings stay invisible to the table root") {
    val root = freshDir()
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", 1 + i % 2))
    rows.toDF("id", "body", "k").repartition(8).write.partitionBy("k").parquet(root)
    // the crash point between the two renames: k=1 parked, not yet replaced
    val k1 = new java.io.File(root, "k=1")
    assert(k1.renameTo(hidden(k1.getPath, ".old")), "fixture: strand k=1")
    val ks = spark.read.parquet(root).select("k").distinct().as[Int].collect().toSet
    assert(ks.subsetOf(Set(1, 2)), s"a sibling leaked into partition discovery: $ks")
    Compaction.compactParquet(spark, k1.getPath, targetBytes = 1L << 30)
    val back = spark.read.parquet(root).as[(Long, String, Int)].collect().toSet
    assert(back == rows.toSet, "every row must be back under its original k")
  }
}
