package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IVF ANN semantics: probing every centroid is exactly brute force,
  * identical vectors are recalled at one probe (same quantizer cell),
  * and training/search are deterministic.
  */
class IvfSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 8
  private def corpus = (0 until 60).map { i =>
    (i.toLong, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7).toFloat))
  }.toDF("vec_id", "embedding")

  test("probing all centroids equals brute-force top-k") {
    val cents = VectorFunctions.ivfTrain(corpus, "embedding", dim, k = 4, iters = 2)
    val queries = corpus.filter(col("vec_id") < 6)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(1 + 1))).toSet
    val ivf = key(VectorFunctions.ivfTopK(queries, corpus, "vec_id", "embedding",
      dim, k = 3, cents, nProbes = cents.length))
    val brute = key(VectorFunctions.bruteForceTopK(queries, corpus, "vec_id",
      "embedding", k = 3))
    assert(ivf == brute)
  }

  test("identical vector lands in the query's own cell: recalled at nProbes = 1") {
    val planted = (0 until 6).map { i =>
      (i + 1000L, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val all = corpus.union(planted)
    val cents = VectorFunctions.ivfTrain(all, "embedding", dim, k = 4, iters = 2)
    val queries = corpus.filter(col("vec_id") < 6)
    val got = VectorFunctions.ivfTopK(queries, all, "vec_id", "embedding",
        dim, k = 3, cents, nProbes = 1)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"), col("sim")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    (0 until 6).foreach { i =>
      val (n, sim) = got(i.toLong)
      assert(n == i + 1000L && sim == 1.0,
        s"query $i: expected its exact copy first, got $n @ $sim")
    }
  }

  test("training and search are deterministic across runs") {
    def run() = {
      val cents = VectorFunctions.ivfTrain(corpus, "embedding", dim, k = 4, iters = 2)
      VectorFunctions.ivfTopK(corpus.filter(col("vec_id") < 4), corpus,
        "vec_id", "embedding", dim, k = 3, cents, nProbes = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    }
    assert(run() == run())
  }

  test("bounded-sample training (N << corpus) keeps recall within the full-training bound") {
    // the 100 TB regime: Lloyd re-estimation reads only the
    // deterministic hash-top-N sample, never the full corpus per
    // round. Quality contract: the quantizer trained on a strict
    // subset (trainSampleN floored at 64·k = 256 of 512 vectors) cells
    // the space well enough that search recall stays within the
    // full-corpus-trained model's bound.
    val big = (0 until 512).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") < 8)
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val brute = topSets(VectorFunctions.bruteForceTopK(queries, big,
      "vec_id", "embedding", k = 5))
    def recall(cents: Array[Array[Double]]): Double = {
      val ivf = topSets(VectorFunctions.ivfTopK(queries, big, "vec_id",
        "embedding", dim, k = 5, cents, nProbes = 2))
      val hits = brute.map { case (q, b) => (ivf.getOrElse(q, Set.empty) & b).size }.sum
      hits.toDouble / brute.values.map(_.size).sum
    }
    val full = VectorFunctions.ivfTrain(big, "embedding", dim, k = 4,
      iters = 2) // default sample >> 512: trains on the whole corpus
    val sampled = VectorFunctions.ivfTrain(big, "embedding", dim, k = 4,
      iters = 2, trainSampleN = 1) // floors to 64*4 = 256, a strict subset
    val (rFull, rSampled) = (recall(full), recall(sampled))
    assert(rSampled >= rFull - 0.15,
      f"sampled-training recall $rSampled%.2f fell more than 0.15 below full-training $rFull%.2f")
    assert(rSampled >= 0.5, f"sampled-training recall degenerate: $rSampled%.2f")
    // the sampled model is just as deterministic as the full one
    val sampled2 = VectorFunctions.ivfTrain(big, "embedding", dim, k = 4,
      iters = 2, trainSampleN = 1)
    assert(sampled.map(_.toSeq).toSeq == sampled2.map(_.toSeq).toSeq)
  }

  test("ivfTrain and pqTrain release their training-sample cache entry") {
    // the sample is persisted for the Lloyd rounds; unpersisting a
    // frame DERIVED from it (a select) is a silent no-op, which leaked
    // one MEMORY_AND_DISK entry per training call. Compared as id sets:
    // the ContextCleaner may drop OTHER entries during the call. The
    // corpora are this row's own, one per trainer (both sample the
    // same top-N plan): a sample plan that an earlier call already
    // leaked would make the persist a no-op and hide the leak.
    val own = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.cos(i * 11 + d * 5).toFloat))
    }.toDF("vec_id", "embedding")
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    val beforeIvf = persisted()
    VectorFunctions.ivfTrain(own, "embedding", dim, k = 4, iters = 2)
    assert((persisted() -- beforeIvf).isEmpty, "ivfTrain leaked its training sample")
    val beforePq = persisted()
    VectorFunctions.pqTrain(own.filter(col("vec_id") >= 5), "embedding", dim,
      m = 4, ksub = 8, iters = 2)
    assert((persisted() -- beforePq).isEmpty, "pqTrain leaked its training sample")
  }
}
