package graft

import org.apache.spark.sql.functions._

import graft.functions.{Hashes, TextFunctions, VectorFunctions}

/** The SQL face of the native expressions: every function registered
  * by [[GraftExtensions]] must be callable from `spark.sql` and agree
  * with its Column-API twin (same expression class underneath — this
  * pins the registration wiring, arity checks, and name stability).
  */
class GraftExtensionsSpec extends SparkSpec {

  import spark.implicits._

  test("registered SQL functions agree with their Column-API twins") {
    Seq((1L, "The quick brown Fox 42!"), (2L, ""), (3L, "aaa aaa bbb"))
      .toDF("id", "text").createOrReplaceTempView("ext_docs")

    val sql = spark.sql(
      """SELECT id,
        |  graft_token_runs(lower(text)) AS runs,
        |  graft_top_token_count(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS top,
        |  graft_md5_prefix_long(text) AS h,
        |  graft_adler32(CAST(text AS BINARY)) AS a32
        |FROM ext_docs""".stripMargin).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    val api = spark.table("ext_docs")
      .select(col("id"),
        TextFunctions.tokenCount(col("text")).as("runs"),
        TextFunctions.topTokenCount(TextFunctions.tokens(col("text"))).as("top"),
        Hashes.md5Long(col("text")).as("h"),
        Hashes.adler32(col("text").cast("binary")).as("a32"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    assert(sql == api, s"SQL and Column API diverged:\n$sql\n$api")
  }

  test("graft_dot and graft_simhash64 from SQL") {
    Seq((1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), Array("aa", "bb", "aa")))
      .toDF("id", "a", "b", "tk").createOrReplaceTempView("ext_vecs")
    val r = spark.sql(
      "SELECT graft_dot(a, b) AS d, graft_simhash64(tk) AS sh FROM ext_vecs")
      .collect().head
    assert(r.getDouble(0) == 32.0)
    val api = spark.table("ext_vecs")
      .select(VectorFunctions.dot(col("a"), col("b")).as("d"),
        Hashes.simhash64(col("tk")).as("sh"))
      .collect().head
    assert(r.getDouble(0) == api.getDouble(0) && r.getLong(1) == api.getLong(1))
  }

  test("graft_srp_bucket from SQL matches the Column API bucket-for-bucket") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 17 + d).toDouble))
    }.toDF("id", "v")
    vecs.createOrReplaceTempView("ext_srp")
    val sql = spark.sql(
      "SELECT id, graft_srp_bucket(v, 16, 8, 42) AS b FROM ext_srp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val api = vecs
      .select(col("id"), VectorFunctions.srpBucket(col("v"), 16, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sql == api, s"SQL and Column API buckets diverged:\n$sql\n$api")
    assert(sql.values.toSet.size > 1, "16-dim corpus must spread over buckets")
  }

  test("graft_srp_bucket rejects non-literal shape arguments") {
    intercept[Exception] {
      spark.sql("SELECT graft_srp_bucket(array(1.0), CAST(id AS INT), 8, 42) " +
        "FROM range(3)").collect()
    }
  }

  /** The messages of `t` and its causes, outermost first. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")

  /** A parquet-backed view, so the kernels run on scanned rows under
    * whole-stage codegen rather than on a folded local relation. */
  private def parquetView(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(name)
  }

  test("graft_simhash64 casts a BIGINT array to the ARRAY<STRING> it reads") {
    parquetView("ext_sh_pq", Seq((1L, 2L)).toDF("one", "two"))
    val r = spark.sql(
      """SELECT graft_simhash64(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT))) AS lit,
        |  graft_simhash64(array(one, two)) AS col,
        |  graft_simhash64(array('1', '2')) AS str
        |FROM ext_sh_pq""".stripMargin).collect().head
    assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(2),
      s"BIGINT forms ${r.getLong(0)}, ${r.getLong(1)} vs STRING form ${r.getLong(2)}")
  }

  test("graft_srp_bucket rejects nbits outside 1..64 and dim below 1") {
    parquetView("ext_srp_pq", Seq((1L, Array.fill(16)(0.5))).toDF("id", "v"))
    for ((q, word) <- Seq("v, 16, 65, 42" -> "nBits", "v, 16, 0, 42" -> "nBits",
        "v, 0, 8, 42" -> "dim")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT graft_srp_bucket($q) FROM ext_srp_pq").collect()
      }
      assert(messages(e).contains(word), s"graft_srp_bucket($q): ${messages(e)}")
    }
    val e = intercept[IllegalArgumentException](VectorFunctions.srpBucket(col("v"), 16, 65))
    assert(e.getMessage.contains("1..64"), e.getMessage)
  }

  test("graft_srp_bucket rejects an integer literal outside the INT range") {
    parquetView("ext_srp_wide_pq", Seq((1L, Array.fill(16)(0.5))).toDF("id", "v"))
    // 4294967312 = 2^32 + 16: narrowed, it would run at dim 16
    val e = intercept[Exception] {
      spark.sql("SELECT graft_srp_bucket(v, 4294967312, 8, 42) FROM ext_srp_wide_pq").collect()
    }
    assert(messages(e).contains("INT range"), messages(e))
  }

  test("wrong arity is rejected at analysis") {
    intercept[Exception] { spark.sql("SELECT graft_dot(array(1.0))").collect() }
  }
}
