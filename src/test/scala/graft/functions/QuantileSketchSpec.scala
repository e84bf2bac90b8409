package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[QuantileSketch]] evidence the q120 gate can't carry: the exact
  * regime is partitioning-invariant, the compactor ladder conserves
  * total weight EXACTLY, and the compacting regime's rank error stays
  * inside the O(n/k) envelope on uniform and heavy-skew data. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val Qs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)

  private def exactLowerRank(sorted: Array[Double], q: Double): Double = {
    val n = sorted.length
    val r = math.max(1, math.ceil(q * n).toInt)
    sorted(r - 1)
  }

  test("exact regime (k >= n): equals the lower-rank order statistics " +
      "under 1/7/32-partition runs") {
    val rnd = new scala.util.Random(7)
    val vals = Array.fill(1000)((rnd.nextInt(250) + rnd.nextDouble()))
    val sorted = vals.sorted
    val expect = Qs.map(q => exactLowerRank(sorted, q))
    for (parts <- Seq(1, 7, 32)) {
      val got = vals.toSeq.toDF("v").repartition(parts)
        .agg(QuantileSketch.quantiles($"v", k = 1024, Qs))
        .head.getSeq[Double](0)
      assert(got === expect, s"parts=$parts")
    }
  }

  test("compacting regime conserves total weight exactly") {
    val vals = (1 to 5000).map(_.toDouble)
    for (parts <- Seq(1, 7, 32)) {
      val cdf = vals.toDF("v").repartition(parts)
        .agg(QuantileSketch.sketch($"v", k = 64))
        .head.getSeq[Double](0)
      val weight = cdf.grouped(2).map(_.apply(1)).sum
      assert(weight === 5000.0, s"parts=$parts")
      // and the summary is tiny: O(k log(n/k)) entries, not n
      assert(cdf.length / 2 < 500, s"summary blew up: ${cdf.length / 2}")
    }
  }

  test("compacting regime rank error <= 4n/k on uniform and skewed data") {
    val uniform = {
      val rnd = new scala.util.Random(11)
      Array.fill(5000)(rnd.nextDouble() * 1e6)
    }
    val skewed = (1 to 5000).map(i => math.floor(5000.0 / i)).toArray
    for ((vals, tag) <- Seq((uniform, "uniform"), (skewed, "zipf"));
         parts <- Seq(1, 7, 32)) {
      val n = vals.length
      val k = 64
      val bound = 4.0 * n / k
      val got = vals.toSeq.toDF("v").repartition(parts)
        .agg(QuantileSketch.quantiles($"v", k, Qs))
        .head.getSeq[Double](0)
      Qs.zip(got).foreach { case (q, v) =>
        val lo = vals.count(_ < v)
        val hi = vals.count(_ <= v)
        val target = q * n
        val err =
          if (target < lo) lo - target
          else if (target > hi) target - hi
          else 0.0
        assert(err <= bound,
          s"$tag parts=$parts q=$q v=$v rank=[$lo,$hi] target=$target " +
            s"err=$err > $bound")
      }
    }
  }

  // ---- sketch-as-a-value lifecycle ---------------------------------

  test("state → mergeQuantiles equals the exact order statistics (exact regime)") {
    val rnd = new scala.util.Random(11)
    val vals = Array.fill(1200)(rnd.nextInt(500) + rnd.nextDouble())
    val sorted = vals.sorted
    // 6 slices stored as states, merged back — k >= total so exact
    val got = vals.zipWithIndex.map { case (v, i) => (i % 6, v) }
      .toSeq.toDF("slice", "v").repartition(7)
      .groupBy($"slice")
      .agg(QuantileSketch.sketchState($"v", k = 2048).as("st"))
      .agg(QuantileSketch.mergeQuantiles($"st", 2048, Qs))
      .head.getSeq[Double](0)
    Qs.zip(got).foreach { case (q, g) =>
      assert(g == exactLowerRank(sorted, q), s"q=$q")
    }
  }

  test("merged-state weight is conserved through the compacting regime") {
    val vals = (1 to 20000).map(_.toDouble)
    val cdf = vals.zipWithIndex.map { case (v, i) => (i % 8, v) }
      .toDF("slice", "v").repartition(13)
      .groupBy($"slice")
      .agg(QuantileSketch.sketchState($"v", k = 64).as("st"))
      .agg(QuantileSketch.mergeCdf($"st", 64))
      .head.getSeq[Double](0)
    val weight = cdf.grouped(2).map(_(1)).sum
    assert(weight == 20000.0, s"total weight must survive state round-trips: $weight")
  }

  test("empty group finishes to an empty array") {
    val out = Seq.empty[Double].toDF("v")
      .agg(QuantileSketch.quantiles($"v", k = 64, Qs))
      .head.getSeq[Double](0)
    assert(out.isEmpty)
  }

  test("merging a stored ladder whose level-0 count exceeds its length " +
      "fails naming both sizes") {
    // used to read past the stored level 0
    val torn = spark.sql("SELECT array(array(5d), array(1d, 2d)) AS st")
    val e = intercept[Exception](
      torn.agg(QuantileSketch.mergeQuantiles($"st", 64, Qs)).collect())
    val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x.getMessage }
    assert(iae.exists(m => m.contains("[0, 2]") && m.contains("found 5")), e)
  }
}
