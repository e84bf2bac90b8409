package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DistinctSketch]] evidence beyond the q121 sparse-exact gate:
  * dense-regime accuracy inside the 3σ envelope, duplicate
  * idempotence, and the property the compaction sketches can't offer
  * — the estimate is IDENTICAL under any partitioning, because every
  * merge path is a commutative, idempotent max/union. */
class DistinctSketchSpec extends SparkSpec {
  import spark.implicits._

  // splitmix64 finalizer: a bijection on Long (n distinct guaranteed)
  // whose output bits are hash-quality — a plain odd-constant multiply
  // keeps arithmetic structure in the low bits and wrecks HLL's
  // geometric rho distribution (observed 1.9x overestimates).
  private def spread(n: Int): Seq[Long] =
    (1 to n).map { i =>
      var z = i.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

  test("sparse regime is exact and partitioning-invariant") {
    val vals = spread(5000)
    for (parts <- Seq(1, 7, 32)) {
      val est = vals.toDF("h").repartition(parts)
        .agg(DistinctSketch.sketch($"h", p = 12, sparseMax = 8192))
        .head.getLong(0)
      assert(est === 5000L, s"parts=$parts")
    }
  }

  test("duplicates are idempotent in both regimes") {
    val vals = spread(2000)
    val tripled = vals ++ vals ++ vals
    for (sparseMax <- Seq(8192, 64)) {
      val once = vals.toDF("h")
        .agg(DistinctSketch.sketch($"h", 12, sparseMax)).head.getLong(0)
      val thrice = tripled.toDF("h").repartition(13)
        .agg(DistinctSketch.sketch($"h", 12, sparseMax)).head.getLong(0)
      assert(once === thrice, s"sparseMax=$sparseMax")
    }
  }

  test("dense regime: within 3 sigma (~4.9% at p=12) and identical " +
      "across partitionings") {
    val vals = spread(50000)
    val ests = Seq(1, 7, 32).map { parts =>
      vals.toDF("h").repartition(parts)
        .agg(DistinctSketch.sketch($"h", p = 12, sparseMax = 64))
        .head.getLong(0)
    }
    assert(ests.distinct.size === 1,
      s"dense estimate must be merge-order independent: $ests")
    val err = math.abs(ests.head - 50000L) / 50000.0
    assert(err <= 3 * 1.04 / math.sqrt(4096.0), s"err=$err est=${ests.head}")
  }

  test("linear-counting low range stays tight even when forced dense") {
    val vals = spread(200)
    val est = vals.toDF("h")
      .agg(DistinctSketch.sketch($"h", p = 12, sparseMax = 0))
      .head.getLong(0)
    assert(math.abs(est - 200L) <= 5, s"est=$est")
  }

  test("grouped: per-group sketches stay independent") {
    val df = spread(3000).zipWithIndex
      .map { case (h, i) => (i % 3, h) }.toDF("g", "h")
    val out = df.repartition(9)
      .groupBy($"g")
      .agg(DistinctSketch.sketch($"h", 12, 8192).as("d"))
      .orderBy($"g")
      .as[(Int, Long)].collect().toSeq
    assert(out === Seq((0, 1000L), (1, 1000L), (2, 1000L)))
  }

  // ---- sketch-as-a-value lifecycle ---------------------------------

  test("state → mergeEstimate round-trips the direct sketch, both regimes") {
    val vals = spread(6000).zipWithIndex.map { case (h, i) => (i % 4, h) }
    for (sparseMax <- Seq(8192, 64)) {
      val direct = vals.toDF("g", "h").repartition(11)
        .agg(DistinctSketch.sketch($"h", 12, sparseMax)).head.getLong(0)
      // slice per group, store states, merge the 4 state rows
      val viaStates = vals.toDF("g", "h").repartition(11)
        .groupBy($"g")
        .agg(DistinctSketch.sketchState($"h", 12, sparseMax).as("st"))
        .agg(DistinctSketch.mergeEstimate($"st", 12, sparseMax))
        .head.getLong(0)
      assert(viaStates === direct, s"sparseMax=$sparseMax")
    }
  }

  test("mergeState compaction: re-stored merged state estimates identically") {
    val vals = spread(5000).zipWithIndex.map { case (h, i) => (i % 10, h) }
    for (sparseMax <- Seq(8192, 32)) {
      val daily = vals.toDF("d", "h").repartition(7)
        .groupBy($"d")
        .agg(DistinctSketch.sketchState($"h", 12, sparseMax).as("st"))
      // 10 daily states → 2 "monthly" states → one estimate
      val monthlyEst = daily
        .groupBy(($"d" % 2).as("m"))
        .agg(DistinctSketch.mergeState($"st", 12, sparseMax).as("st"))
        .agg(DistinctSketch.mergeEstimate($"st", 12, sparseMax))
        .head.getLong(0)
      val directEst = vals.toDF("d", "h")
        .agg(DistinctSketch.sketch($"h", 12, sparseMax)).head.getLong(0)
      assert(monthlyEst === directEst, s"sparseMax=$sparseMax")
    }
  }

  test("a NULL state row skips like a null input to any built-in aggregate") {
    // stored state tables are an open parquet surface: one
    // foreign-written or schema-evolved null row used to NPE the whole
    // merge aggregation — it must skip per the SQL-aggregate rule (the
    // same rule the element-level reducers already follow). Pinned
    // here for the whole sketch shelf's state-merge family.
    val vals = spread(500)
    val states = vals.toDF("h")
      .agg(DistinctSketch.sketchState($"h", 12, 8192).as("st"))
      .select($"st")
      .unionByName(spark.sql("SELECT CAST(null AS ARRAY<BIGINT>) AS st"))
    val est = states.agg(DistinctSketch.mergeEstimate($"st", 12, 8192))
      .head.getLong(0)
    assert(est === 500L, s"null state must skip, got $est")
    val restored = states.agg(DistinctSketch.mergeState($"st", 12, 8192).as("st"))
      .agg(DistinctSketch.mergeEstimate($"st", 12, 8192)).head.getLong(0)
    assert(restored === 500L)
    // same rule across the shelf: KLL ladder, Misra–Gries, CountMin
    val q = Seq(1.0, 2.0, 3.0).toDF("v")
      .agg(QuantileSketch.sketchState($"v", 64).as("st")).select($"st")
      .unionByName(spark.sql("SELECT CAST(null AS ARRAY<ARRAY<DOUBLE>>) AS st"))
      .agg(QuantileSketch.mergeQuantiles($"st", 64, Seq(0.5)).as("q"))
      .head.getSeq[Double](0)
    assert(q == Seq(2.0), s"KLL null state must skip, got $q")
    val hh = Seq("a", "a", "b").toDF("k")
      .agg(HeavyHitters.sketch($"k", 4).as("st")).select($"st")
      .unionByName(spark.sql("SELECT CAST(null AS MAP<STRING,BIGINT>) AS st"))
      .agg(HeavyHitters.mergeSketches($"st", 4).as("m"))
      .head.getAs[Map[String, Long]]("m")
    assert(hh == Map("a" -> 2L, "b" -> 1L), s"MG null state must skip, got $hh")
    val cmState = Seq("x", "x", "y").toDF("k")
      .agg(CountMin.sketch($"k", 64).as("st")).select($"st")
      .unionByName(spark.sql("SELECT CAST(null AS ARRAY<BIGINT>) AS st"))
      .agg(CountMin.mergeSketches($"st", 64).as("st"))
      .head.getSeq[Long](0).toArray
    assert(CountMin.estimate(cmState, "x") === 2L,
      "CountMin null state must skip")
  }

  test("inclusion–exclusion intersection is exact in the sparse regime") {
    // |A| = 3000, |B| = 3000, |A∩B| = 1000 by construction
    val a = spread(5000).take(3000)
    val b = spread(5000).drop(2000)
    val states = (a.map(("a", _)) ++ b.map(("b", _))).toDF("s", "h")
      .repartition(9)
      .groupBy($"s").agg(DistinctSketch.sketchState($"h").as("st")).cache()
    val union = states.agg(DistinctSketch.mergeEstimate($"st")).head.getLong(0)
    val singles = states
      .groupBy($"s").agg(DistinctSketch.mergeEstimate($"st").as("e"))
      .orderBy($"s").as[(String, Long)].collect().toMap
    states.unpersist()
    assert(singles("a") === 3000L && singles("b") === 3000L)
    assert(union === 5000L)
    assert(singles("a") + singles("b") - union === 1000L)
  }

  test("zero/empty states merge to zero and don't perturb real states") {
    val empty = Seq.empty[Long].toDF("h")
      .agg(DistinctSketch.sketchState($"h").as("st"))
    val real = spread(100).toDF("h")
      .agg(DistinctSketch.sketchState($"h").as("st"))
    val est = empty.unionByName(real)
      .agg(DistinctSketch.mergeEstimate($"st")).head.getLong(0)
    assert(est === 100L)
    assert(empty.agg(DistinctSketch.mergeEstimate($"st")).head.getLong(0) === 0L)
  }

  test("merging a stored state of another precision or a torn sparse state " +
      "fails naming both sizes") {
    // a dense p=10 state merged at p=12 used to index past its 1025
    // registers; a sparse state shorter than its count past its end
    val dense = spread(3000).toDF("h")
      .agg(DistinctSketch.sketchState($"h", 10, 0).as("st"))
    val torn = spark.sql("SELECT array(0L, 5L, 7L) AS st")
    for ((states, sizes) <- Seq((dense, ("length 4097", "found 1025")),
                                (torn, ("length 7", "found 3")))) {
      val e = intercept[Exception](
        states.agg(DistinctSketch.mergeEstimate($"st", 12, 8192)).collect())
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
      assert(iae.exists(m => m.contains(sizes._1) && m.contains(sizes._2)), s"$sizes: $e")
    }
  }
}
