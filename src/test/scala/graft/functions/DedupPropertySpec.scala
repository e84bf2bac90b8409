package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The property tests that back the no-oracle queries (q21 simhash,
  * q23 srp-ann, q30 rolling fingerprint, q31 fast minhash): their
  * semantics aren't ANSI-SQL-expressible, so ScalaTest is the
  * correctness signal the driver's DuckDB gate can't provide.
  */
class DedupPropertySpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---------- q21: SimHash ----------

  test("single-pass SimHash expression is bit-identical to the 64-fold composed form") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "a b", "single", "", "repeated repeated repeated repeated")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
    val both = df.select(col("doc_id"),
      Hashes.simhash64(col("tk")).as("fast"),
      DedupFunctions.simhash64Composed(col("tk")).as("slow")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
  }

  test("simhash: planted near-duplicates are candidates, unrelated docs are not") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "on the warm windowsill and birds sing in the garden trees every morning"
    val nearDup = base.replace("warm", "cold") // one token differs
    val unrelated = "completely different content about database engines and " +
      "distributed query processing with columnar storage and vectorized execution"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val cands = DedupFunctions.simhashCandidates(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), "near-dup pair must be a candidate")
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)),
      "unrelated doc must not pair with the others")
  }

  test("simhash of identical token multisets is identical; of disjoint vocab differs") {
    val d = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "zeta eta theta iota kappa")
    val hs = d.select(col("doc_id"),
        DedupFunctions.simhash64(TextFunctions.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
  }

  // ---------- q23: SRP ANN ----------

  test("srp bucket assignment is deterministic across evaluations") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = vecs.select(col("vec_id"),
      VectorFunctions.srpBucket(col("embedding").cast("array<double>"), 8, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = vecs.select(col("vec_id"),
      VectorFunctions.srpBucket(col("embedding").cast("array<double>"), 8, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < 16)) // 4 bits
  }

  test("srp ann: identical vector is always retrieved (self-recall), ranked first") {
    // corpus contains an exact copy of each query vector under id+1000
    val base = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 17 + d * 3).toFloat))
    }
    val corpus = (base ++ base.map { case (i, v) => (i + 1000, v) })
      .toDF("vec_id", "embedding")
    val queries = base.toDF("vec_id", "embedding")
    val top = VectorFunctions.srpTopK(queries, corpus, "vec_id", "embedding",
      dim = 8, k = 1, nBits = 4)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // identical vector lands in the same bucket by construction and has sim=1
    base.foreach { case (i, _) =>
      assert(top(i) == i + 1000, s"query $i should retrieve its exact copy")
    }
  }

  // ---------- q30: rolling hash ----------

  test("rolling hash is order-sensitive where fingerprint is not") {
    val d = docs(1L -> "alpha beta gamma", 2L -> "gamma beta alpha")
    val r = d.select(col("doc_id"),
        TextFunctions.rollingHash(col("text")).as("rh"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(r(1L)._1 != r(2L)._1, "permuted tokens must change the rolling hash")
    // fingerprint sorts nothing — same tokens in different order differ too,
    // but case/punctuation/whitespace do NOT change it:
    val d2 = docs(3L -> "Alpha,  BETA!! gamma", 4L -> "alpha beta gamma")
    val fp = d2.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(fp(3L) == fp(4L), "normalization-level variants share a fingerprint")
  }

  test("rolling hash stays within the 31-bit modulus (ANSI overflow safety)") {
    val big = (1 to 2000).map(i => s"tok$i").mkString(" ")
    val v = docs(1L -> big).select(TextFunctions.rollingHash(col("text")).as("rh"))
      .collect().head.getLong(0)
    assert(v >= 0 && v < 1000000007L)
  }

  test("portable rolling hash (q45) shares the fast variant's structure") {
    val d = docs(
      1L -> "alpha beta gamma", 2L -> "gamma beta alpha",
      3L -> "alpha beta gamma", 4L -> "", 5L -> "!!!")
    val r = d.select(col("doc_id"),
        TextFunctions.rollingHashPortable(col("text")).as("rh"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) != r(2L), "permuted tokens must change the portable hash")
    assert(r(1L) == r(3L), "identical text must agree")
    assert(r(4L) == 0L && r(5L) == 0L, "token-free text folds to the zero seed")
    assert(r.values.forall(v => v >= 0 && v < 1000000007L))
  }

  test("portable 60-bit simhash (q48): near-dups close in Hamming space, disjoint vocab far") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog entirely",
      2L -> "the quick brown fox jumps over the lazy dog mostly", // near dup
      3L -> "zeta eta theta iota kappa lambda mu nu xi omicron", // disjoint
      4L -> "the quick brown fox jumps over the lazy dog entirely") // exact
    val hs = d.select(col("doc_id"),
        transform(TextFunctions.tokens(col("text")), t => Hashes.md5Long(t)).as("hs"))
      .select(col("doc_id"), DedupFunctions.simhash60Portable(col("hs")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(1L) == hs(4L), "identical text -> identical simhash")
    assert((hs(1L) >>> 60) == 0L, "60-bit hash must not set the top nibble")
    assert(hamming(hs(1L), hs(2L)) < hamming(hs(1L), hs(3L)),
      s"near-dup must be closer than disjoint vocab: " +
        s"${hamming(hs(1L), hs(2L))} vs ${hamming(hs(1L), hs(3L))}")
  }

  // ---------- q31: fast minhash ----------

  test("fast-family minhash LSH recalls planted near-duplicates") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val cands = DedupFunctions.minhashCandidates(d, "doc_id", "text",
        shingleN = 3, k = 12, r = 2, portable = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)))
  }

  test("fast family recalls the portable family's verified-high-jaccard pairs (sf0.01)") {
    // The production (xxhash64) family must not lose the pairs the
    // oracle-gated portable (md5) family finds AND that are verifiably
    // near-duplicates: portable candidates, filtered to true jaccard
    // >= 0.9 by the exact prefix-filtered join, must all reappear in
    // the fast family's candidate set. Deterministic: fixed corpus,
    // seeded hash families.
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def cands(portable: Boolean) = DedupFunctions.minhashCandidates(
      corpus, "doc_id", "text", shingleN = 3, k = 12, r = 2, portable = portable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val portablePairs = cands(portable = true)
    val highJaccard = DedupFunctions.jaccardSimilarityJoin(
      corpus, "doc_id", "text", shingleN = 3, threshold = 0.9)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = portablePairs.intersect(highJaccard)
    assert(verified.nonEmpty, "fixture must contain verified near-duplicates")
    val fastPairs = cands(portable = false)
    val lost = verified -- fastPairs
    assert(lost.isEmpty,
      s"fast family lost ${lost.size}/${verified.size} verified pairs: ${lost.take(5)}")
  }

  test("native token-run counter matches the regex token count exactly") {
    val texts = Seq(
      "the quick brown fox", "  leading and trailing  ", "",
      "punct!!!and---digits123 456abc", "ALL CAPS TO LOWER", "a",
      "unicode: café naïve 中文 Éclair",
      "tabs\tand\nnewlines mixed-7up", "123 456 789", "!!!###")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select(col("id"),
      TextFunctions.tokenCount(col("text")).as("fast"),
      TextFunctions.tokenCountComposed(col("text")).cast("long").as("slow")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"text '${texts(r.getLong(0).toInt)}': ${r.getLong(1)} vs ${r.getLong(2)}"))
  }

  test("native md5-prefix expression is bit-identical to the composed conv/substring form") {
    val texts = Seq("", "a", "the quick brown fox", "0", "UPPER lower 123",
      "exactly-fifteen", "éèê unicode bytes", "salt:7:token",
      "ffffffffffffffff", "\u0000nul-lead")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "s")
    val both = df.select(col("id"),
      Hashes.md5Long(col("s")).as("fast"),
      Hashes.md5LongComposed(col("s")).as("slow")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"text '${texts(r.getLong(0).toInt)}': ${r.getLong(1)} vs ${r.getLong(2)}"))
    // null propagates like the composed form
    val nulls = Seq((0L, null: String)).toDF("id", "s")
      .select(Hashes.md5Long(col("s")).as("f"), Hashes.md5LongComposed(col("s")).as("c"))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("native dot-product expression is bit-identical to the composed HOF fold") {
    val vecs = (0 until 25).map { i =>
      (i.toLong,
        Array.tabulate(16)(d => math.sin(i * 7 + d).toFloat),
        Array.tabulate(16)(d => math.cos(i * 11 + d * 5).toFloat))
    }.toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val both = vecs.select(col("id"),
      VectorFunctions.dot(col("a"), col("b")).as("fast"),
      VectorFunctions.dotComposed(col("a"), col("b")).as("slow")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"id ${r.getLong(0)}")
    }
  }

  test("native portable simhash60 is bit-identical to the composed HOF fold") {
    // the composed fold allocated three 60-wide arrays + ~180
    // interpreted lambda re-entries per token (q48's scan-stage
    // hotspot); the native expression must reproduce it exactly,
    // including the null-element rule (null votes -1 on every bit),
    // the empty-array result (all-zero votes -> 0), and null input
    val hs = Seq(
      (0L, Seq(0x123456789abcdefL, 0x7ffffffffffffffL, 0L)),
      (1L, Seq(0xfffffffffffffffL)),
      (2L, Seq.empty[Long]),
      (3L, (0 until 97).map(i => i.toLong * 0x9E3779B97F4A7CL)),
      (4L, Seq(1L, 2L, 4L, 8L, 16L))).toDF("id", "hs")
    val both = hs.select(col("id"),
      DedupFunctions.simhash60Portable(col("hs")).as("fast"),
      DedupFunctions.simhash60Composed(col("hs")).as("slow")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"id ${r.getLong(0)}: ${r.getLong(1)} vs ${r.getLong(2)}"))
    // null ELEMENT: votes -1 on every bit, same as the composed
    // when(null).otherwise(-1) — drive through an array<long> with null
    val withNull = spark.sql(
      "SELECT array(CAST(3 AS BIGINT), CAST(null AS BIGINT), CAST(3 AS BIGINT)) AS hs")
    val bn = withNull.select(
      DedupFunctions.simhash60Portable(col("hs")).as("fast"),
      DedupFunctions.simhash60Composed(col("hs")).as("slow")).collect().head
    assert(bn.getLong(0) == bn.getLong(1), s"${bn.getLong(0)} vs ${bn.getLong(1)}")
    assert(bn.getLong(0) == 3L, "two +1 votes on bits 0-1 beat one null -1 vote")
    // null INPUT array propagates null both ways
    val ni = spark.sql("SELECT CAST(null AS ARRAY<BIGINT>) AS hs").select(
      DedupFunctions.simhash60Portable(col("hs")).as("f"),
      DedupFunctions.simhash60Composed(col("hs")).as("c")).collect().head
    assert(ni.isNullAt(0) && ni.isNullAt(1))
  }

  test("native signature-agreement expression is bit-identical to the composed fold") {
    // per-pair kernel of minhashEstimates; must match the zip_with
    // rules exactly: shorter side null-padded (those positions count
    // 0), null elements never match (even null vs null)
    val df = Seq(
      (0L, Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      (1L, Seq(1L, 2L), Seq(1L, 2L, 3L, 4L)), // length mismatch
      (2L, Seq.empty[Long], Seq(5L)),
      (3L, (0 until 64).map(_.toLong), (0 until 64).map(i => (i * 2).toLong))
    ).toDF("id", "a", "b")
    val both = df.select(col("id"),
      {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.functions.SigAgreeExpr(
          ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b"))))
      }.as("fast"),
      DedupFunctions.agreeComposed(col("a"), col("b")).as("slow")).collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"id ${r.getLong(0)}: ${r.getLong(1)} vs ${r.getLong(2)}"))
    // null elements: null vs null must NOT count (when(null===null) is
    // null -> otherwise(0) in the composed form)
    val nulls = spark.sql(
      """SELECT array(CAST(1 AS BIGINT), CAST(null AS BIGINT)) AS a,
        |       array(CAST(1 AS BIGINT), CAST(null AS BIGINT)) AS b""".stripMargin)
    val nr = nulls.select(
      {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.functions.SigAgreeExpr(
          ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b"))))
      }.as("fast"),
      DedupFunctions.agreeComposed(col("a"), col("b")).as("slow")).collect().head
    assert(nr.getLong(0) == 1L && nr.getLong(1) == 1L,
      s"null elements must not match: ${nr.getLong(0)} vs ${nr.getLong(1)}")
  }

  test("bucketed cosine near-dup: exact-precision subset, full recall on identical vectors") {
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 7 + d * 3).toFloat))
    }
    val planted = base.take(5).map { case (i, v) => (i + 1000L, v) } // exact copies
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(VectorFunctions.cosineNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.9))
    val bucketed = pairs(VectorFunctions.cosineNearDupBucketed(
      vecs, "vec_id", "embedding", dim = 16, threshold = 0.9))
    assert(bucketed.subsetOf(exact), "verified candidates must never exceed the exact set")
    (0 until 5).foreach { i =>
      assert(bucketed.contains((i.toLong, i + 1000L)),
        s"identical pair ($i, ${i + 1000}) shares every bucket and must be recalled")
    }
    val again = pairs(VectorFunctions.cosineNearDupBucketed(
      vecs, "vec_id", "embedding", dim = 16, threshold = 0.9))
    assert(again == bucketed, "bucketing must be deterministic")
  }

  test("semanticDedupBucketed: planted clusters recovered, components refine the exact ones") {
    // 40 spread-out base vectors + 3 planted duplicate groups (exact
    // copies — guaranteed recall: identical vectors share every bucket)
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 7 + d * 3).toFloat))
    }
    val planted = for {
      (g, ids) <- Seq(0 -> Seq(100L, 101L), 1 -> Seq(200L, 201L, 202L), 2 -> Seq(300L))
      id <- ids
    } yield (id, base(g)._2)
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucketed = clusters(VectorFunctions.semanticDedupBucketed(
      vecs, "vec_id", "embedding", dim = 16, threshold = 0.9))
    val exact = clusters(DedupFunctions.dupClusters(
      VectorFunctions.cosineNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9)
        .select(col("d1"), col("d2"))))
    // planted exact copies always co-cluster with their base vector
    // (they share every bucket); the cluster ROOT may be lower than the
    // base id when base vectors are themselves near-dups of each other
    Seq(Seq(0L, 100L, 101L), Seq(1L, 200L, 201L, 202L), Seq(2L, 300L)).foreach { g =>
      val roots = g.map(id => bucketed.get(id)).toSet
      assert(roots.size == 1 && roots.head.nonEmpty,
        s"planted group $g split across clusters: $roots")
    }
    // refinement: any two docs the bucketed path clusters together must
    // also share an exact cluster (missed edges can split, never merge)
    assert(bucketed.keySet.subsetOf(exact.keySet))
    bucketed.groupBy(_._2).values.foreach { members =>
      val exactIds = members.keys.map(exact).toSet
      assert(exactIds.size == 1,
        s"bucketed cluster ${members.keys.toSeq.sorted} spans exact clusters $exactIds")
    }
    // deterministic end-to-end
    val again = clusters(VectorFunctions.semanticDedupBucketed(
      vecs, "vec_id", "embedding", dim = 16, threshold = 0.9))
    assert(again == bucketed)
  }

  test("semanticDedupKmeans: pairs subset-of-exact, planted duplicates co-cluster, deterministic") {
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 7 + d * 3).toFloat))
    }
    // exact copies: identical vectors share a nearest centroid by
    // construction, so the k-means partition can never split them
    val planted = for {
      (g, ids) <- Seq(0 -> Seq(100L, 101L), 1 -> Seq(200L, 201L, 202L), 2 -> Seq(300L))
      id <- ids
    } yield (id, base(g)._2)
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val cents = VectorFunctions.ivfTrain(vecs, "embedding", dim = 16, k = 4)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val km = pairSet(VectorFunctions.kmeansNearDupPairs(
      vecs, "vec_id", "embedding", dim = 16, threshold = 0.9, cents))
    // multi-probe widens candidates but stays exact-verified: still a
    // subset of exact, and a superset of the single-probe pairs
    val km2 = pairSet(VectorFunctions.kmeansNearDupPairs(
      vecs, "vec_id", "embedding", dim = 16, threshold = 0.9, cents, probes = 2))
    assert(km.subsetOf(km2) && km2.subsetOf(pairSet(
      VectorFunctions.cosineNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9))))
    val exact = pairSet(VectorFunctions.cosineNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.9))
    assert(km.subsetOf(exact), "within-cell verified pairs must never exceed the exact set")
    Seq((0L, 100L), (0L, 101L), (1L, 200L), (2L, 300L)).foreach { p =>
      assert(km.contains(p), s"identical pair $p shares its nearest centroid and must be recalled")
    }
    val clusters = VectorFunctions.semanticDedupKmeans(
        vecs, "vec_id", "embedding", dim = 16, threshold = 0.9, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(Seq(0L, 100L, 101L), Seq(1L, 200L, 201L, 202L), Seq(2L, 300L)).foreach { g =>
      val roots = g.map(clusters.get).toSet
      assert(roots.size == 1 && roots.head.nonEmpty, s"planted group $g split: $roots")
    }
    // deterministic end-to-end (hash-seeded centroid init, no RNG)
    val again = VectorFunctions.semanticDedupKmeans(
        vecs, "vec_id", "embedding", dim = 16, threshold = 0.9, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == clusters)
  }

  test("dupClusters frees per-round checkpoint blocks on deep chains") {
    // a 300-node path needs ~log2(300) pointer-jump rounds; without the
    // per-round free, each round strands one localCheckpoint block set
    // until some future GC — here live persistent RDDs must stay
    // bounded at the final round's labels (+0/1 transient)
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0 until 300).map(i => (i.toLong, i + 1L)).toDF("d1", "d2")
    val out = DedupFunctions.dupClusters(chain, maxIter = 20)
    assert(out.count() == 301 &&
      out.filter(col("cluster_id") === 0L).count() == 301,
      "the whole path must collapse to cluster 0")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"checkpoint blocks leaked across rounds: $before persistent RDDs -> $after")
  }

  test("qualityScore is bounded in [0,1], rewards clean text over punctuation soup") {
    val stop = Seq("the", "a", "of")
    val clean = "the quick brown fox runs over a hill of green grass"
    val soup = "!!! ### $$$ %%% ^^^ &&& *** ((( )))"
    val scores = Seq((1L, clean), (2L, soup)).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text"), stop).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(scores(1L) > scores(2L))
    // deterministic
    val again = Seq((1L, clean)).toDF("doc_id", "text")
      .select(TextFunctions.qualityScore(col("text"), stop)).collect().head.getDouble(0)
    assert(again == scores(1L))
  }

  test("dupClusters resolves transitive chains to min-id components") {
    // chain 1-2, 2-3 (one cluster), pair 10-11, singleton via self (none)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val labels = DedupFunctions.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val ks = DedupFunctions.keepers(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ks == Set((1L, 1L, 3L), (10L, 10L, 2L)))
  }

  test("dupClusters convergence verdict rides the checkpoint job's observed metric") {
    // the per-round convergence boolean is read from the round's OWN
    // materialization (Dataset.observe on the checkpointed frame), not
    // a second count job re-reading the labels; the defensive fallback
    // exists but firing it would silently double the per-round job
    // count (and, at scale, re-read the label table once per round) —
    // pin that the fast path actually engages on this Spark version
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val labels = DedupFunctions.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(DedupFunctions.lastConvergenceViaObserve.get(),
      "convergence verdict fell back to the explicit count job — " +
        "observe-on-localCheckpoint stopped surfacing metrics")
    assert(DedupFunctions.lastDupClustersRounds.get() >= 1)
  }

  test("dupClusters converges on a long chain (diameter > 2)") {
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = DedupFunctions.dupClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1L))
    assert(labels.keySet == (1L to 9L).toSet)
  }

  test("dupClusters converges on a 40-node path in log-diameter rounds (pointer jump)") {
    import spark.implicits._
    // plain neighbor-min propagation reaches ~1 hop/round and would
    // need 39 rounds; the pointer jump must close this in <= 7
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = DedupFunctions.dupClusters(pairs, maxIter = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 40, "every node labeled")
    assert(out.values.forall(_ == 0L), s"all labels must reach the min id: $out")
  }

  test("widen: identity on non-scan-shaped input (no eager AQE probe), widens narrow scans") {
    // the width probe (df.rdd.getNumPartitions) finalizes a physical
    // plan; under AQE that EXECUTES upstream shuffle stages as thrown-
    // away jobs. widen must therefore refuse anything but scan shapes —
    // reference equality is the no-probe witness (the probe would have
    // required building a new frame)
    val derived = (1 to 10).map(i => (i.toLong, i % 3)).toDF("id", "g")
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    assert(DedupFunctions.widen(derived) eq derived,
      "widen must be the identity on aggregated (non-scan) input")
    assert(!DedupFunctions.scanShaped(derived.queryExecution.logical))
    // scan shapes (projection/filter over a leaf) stay eligible, and a
    // 1-partition local relation widens to defaultParallelism
    val narrow = (1 to 10).map(i => (i.toLong, s"t$i")).toDF("id", "t")
      .select(col("id"), col("t")).filter(col("id") > 0)
    assert(DedupFunctions.scanShaped(narrow.queryExecution.logical))
    val widened = DedupFunctions.widen(narrow)
    assert(widened.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(widened.select(sum(col("id"))).collect().head.getLong(0) == 55L)
  }

  test("dupClusters clamps each round's checkpoint leaf stats to the observed row count") {
    // localCheckpoint copies the round plan's PRODUCT size estimate
    // onto the leaf; unclamped, r references per round store size^r on
    // the next leaf and the driver burns stats walks on huge
    // BigIntegers (the r20 double-jump blocker). The clamp pins the
    // leaf to the observed count — small, honest, broadcastable.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val labels = DedupFunctions.dupClusters(pairs)
    // the clamped stats live on the checkpoint LEAF (the Project above
    // it re-derives sizeInBytes and drops rowCount — size-only visitor)
    val leafStats = labels.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.stats
    }
    assert(leafStats.nonEmpty, "no checkpoint leaf in the labels plan")
    assert(leafStats.head.rowCount.contains(BigInt(5)),
      s"leaf rowCount must be the observed 5 labels: $leafStats")
    assert(leafStats.head.sizeInBytes <= BigInt(5 * 56),
      s"leaf sizeInBytes must be clamped, not a join-product estimate: $leafStats")
    // and the whole-frame estimate stays small (no compounding term)
    assert(labels.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(5 * 56))
  }

  test("multi-probe SRP recall is a superset of single-probe at same params") {
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 13 + d * 7).toFloat))
    }
    val corpus = base.toDF("vec_id", "embedding")
    val queries = base.take(8).toDF("vec_id", "embedding")
    def hits(probes: Int) = VectorFunctions.srpTopK(queries, corpus,
        "vec_id", "embedding", dim = 8, k = 3, nBits = 4, probes = probes)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val single = hits(1)
    val multi = hits(3)
    // multi-probe sees every candidate single-probe saw, plus others
    val exact = VectorFunctions.bruteForceTopK(queries, corpus,
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert((multi intersect exact).size >= (single intersect exact).size,
      s"multi-probe recall ${multi.size} must not be below single-probe ${single.size}")
  }

  test("bounded collect caps the aggregation buffer at limit+1 (skew guard)") {
    val df = (1 to 100).map(i => (i.toLong, i % 3)).toDF("id", "g")
    val out = df.groupBy(col("g"))
      .agg(BoundedCollect.longs(col("id"), limit = 5).as("m"))
      .select(col("g"), size(col("m")).as("n")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    // each group has 33-34 members; collection stops at limit+1 = 6,
    // which is exactly the "over cap" signal the size filter reads
    assert(out.values.toSet == Set(6))
    // under the cap, everything is collected
    val small = (1 to 4).map(i => (i.toLong, 0)).toDF("id", "g")
      .groupBy(col("g")).agg(BoundedCollect.longs(col("id"), 5).as("m"))
      .select(size(col("m"))).collect().head.getInt(0)
    assert(small == 4)
  }

  test("portable and fast minhash families produce the same candidates on clear dups") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 35) "X" else s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup)
    Seq(true, false).foreach { portable =>
      val cands = DedupFunctions.minhashCandidates(d, "doc_id", "text",
          3, 12, 2, portable).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands == Set((1L, 2L)), s"portable=$portable")
    }
  }
}
