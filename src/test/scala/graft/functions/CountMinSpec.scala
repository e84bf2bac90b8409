package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Count-Min guarantees under Spark partial aggregation: never
  * undercounts, bounded overcount, and — because the merge is an
  * elementwise sum — the sketch is IDENTICAL for every partitioning.
  */
class CountMinSpec extends SparkSpec {

  import spark.implicits._

  private val stream: Seq[String] =
    Seq.fill(400)("hot") ++ Seq.fill(150)("warm") ++
      (0 until 450).map(i => s"tail${i % 300}")

  private def sketchOf(parts: Int, width: Int): Array[Long] =
    stream.toDF("s").repartition(parts)
      .select(CountMin.sketch(col("s"), width).as("m"))
      .collect().head.getSeq[Long](0).toArray

  test("estimates never undercount; overcount bounded by 2n/width") {
    val width = 256
    val sk = sketchOf(parts = 8, width = width)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = 2L * stream.size / width // 7
    exact.foreach { case (k, n) =>
      val est = CountMin.estimate(sk, k)
      assert(est >= n, s"undercount for $k: $est < $n")
      assert(est <= n + bound, s"overcount for $k out of bound: $est > $n + $bound")
    }
    // absent keys estimate within the same bound of zero
    assert(CountMin.estimate(sk, "never-seen") <= bound)
  }

  test("merge is lossless: every partitioning yields the same sketch") {
    val ref = sketchOf(parts = 1, width = 64)
    for (parts <- Seq(4, 17, 32))
      assert(sketchOf(parts, 64).sameElements(ref),
        s"sketch must be partition-invariant (parts=$parts)")
  }

  test("per-group sketches via groupBy answer per-group point queries") {
    val df = (Seq.fill(30)(("a", "x")) ++ Seq.fill(5)(("b", "x")) ++
      Seq.fill(12)(("b", "y"))).toDF("g", "s")
    val out = df.groupBy(col("g"))
      .agg(CountMin.sketch(col("s"), 128).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    assert(CountMin.estimate(out("a"), "x") == 30)
    assert(CountMin.estimate(out("b"), "x") == 5)
    assert(CountMin.estimate(out("b"), "y") == 12)
  }

  test("stored per-slice states merge to the single-pass sketch, bit-for-bit") {
    val keys = (1 to 2000).map(i => s"k${i % 97}")
    val direct = keys.toDF("k")
      .agg(CountMin.sketch(col("k"), 64)).head.getSeq[Long](0).toArray
    val viaStates = keys.zipWithIndex.map { case (k, i) => (i % 6, k) }
      .toDF("slice", "k").repartition(11)
      .groupBy(col("slice"))
      .agg(CountMin.sketch(col("k"), 64).as("st"))
      .agg(CountMin.mergeSketches(col("st"), 64))
      .head.getSeq[Long](0).toArray
    assert(viaStates.sameElements(direct),
      "elementwise-sum merge must make state round-trips exactly lossless")
  }

  test("merging a stored sketch of another width fails naming both sizes") {
    // a narrower state used to index past its end, a wider one to be
    // silently truncated into wrong counts
    val st = Seq("a", "b").toDF("k").agg(CountMin.sketch(col("k"), 64).as("st"))
    for (width <- Seq(128, 32)) {
      val e = intercept[Exception](
        st.agg(CountMin.mergeSketches(col("st"), width)).collect())
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
      assert(iae.exists(m => m.contains(s"expected length ${CountMin.Depth * width}") &&
        m.contains("found 256")), s"width=$width: $e")
    }
  }
}
