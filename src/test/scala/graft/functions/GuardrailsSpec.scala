package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Guardrails added in round 11 (advisor findings): misconfiguration
  * and degenerate-input paths must fail loudly or stay bounded, never
  * silently corrupt results.
  */
class GuardrailsSpec extends SparkSpec {

  import spark.implicits._

  test("lshBands rejects a signature length that does not split into bands") {
    val df = Seq((1L, Seq(1L, 2L, 3L, 4L, 5L))).toDF("doc_id", "sig")
    val e = intercept[IllegalArgumentException] {
      DedupFunctions.lshBands(df, "doc_id", "sig", k = 5, r = 2)
    }
    assert(e.getMessage.contains("multiple"))
    // and the valid split still works
    assert(DedupFunctions.lshBands(df, "doc_id", "sig", k = 4, r = 2)
      .count() == 2)
  }

  test("exactDedup skips null text instead of reporting it as one giant duplicate set") {
    // pre-fix: contentHash(null) is null and GROUP BY collects nulls,
    // so a corrupted feed's null-text docs became ONE cluster with a
    // keeper — a pipeline acting on keeper_id would delete all but one
    import spark.implicits._
    val docs = Seq((1L, Some("same")), (2L, Some("same")),
      (3L, Option.empty[String]), (4L, Option.empty[String]),
      (5L, Some(""))).toDF("doc_id", "text")
    val got = DedupFunctions.exactDedup(docs, "text", "doc_id")
      .select("keeper_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (5L, 1L)),
      s"null text must be skipped (empty string still dedups), got $got")
  }

  test("minhashCandidates with STRING ids uses the bounded collector and still finds planted dups") {
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm windowsill and birds sing in the garden trees"
    val rows = Seq(
      "doc-a" -> base,
      "doc-b" -> base, // exact dup of doc-a
      "doc-c" -> ("completely different content about database engines and " +
        "columnar storage with vectorized execution and distributed joins"))
    val cands = DedupFunctions.minhashCandidates(
      rows.toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, k = 16, r = 4, portable = false)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cands.contains(("doc-a", "doc-b")))
    assert(!cands.exists { case (a, b) => a == "doc-c" || b == "doc-c" })
  }

  test("minhashEstimates with STRING ids joins on string keys (no silent long-cast nulls)") {
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm windowsill and birds sing in the garden trees"
    val rows = Seq("doc-a" -> base, "doc-b" -> base,
      "doc-c" -> ("entirely different content about columnar storage " +
        "engines with vectorized execution and distributed hash joins"))
    val est = DedupFunctions.minhashEstimates(
      rows.toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, k = 16, r = 4, portable = false, minAgree = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(est.exists { case (a, b, agree) =>
      a == "doc-a" && b == "doc-b" && agree == 16 })
  }

  test("bounded string collector caps the buffer at limit + 1") {
    val df = (0 until 100).map(i => ("hot", s"id-$i")).toDF("k", "id")
    val sizes = df.groupBy(col("k"))
      .agg(BoundedCollect.strings(col("id"), 10).as("m"))
      .select(size(col("m"))).collect().map(_.getInt(0))
    assert(sizes.sameElements(Array(11))) // limit + 1 marks "over cap"
  }

  test("imputeGroupMedian rejects input columns that collide with internal names") {
    val df = Seq((1, 2.0, 3, 9L)).toDF("g", "v", "_rn", "id")
    val e = intercept[IllegalArgumentException] {
      Diagnostics.imputeGroupMedian(df, col("g"), col("v"), col("id"))
    }
    assert(e.getMessage.contains("_rn"))
  }

  test("dupClusters strict mode throws when the round cap is hit before convergence") {
    // path graph 0-1-2-...-9: min-label must travel 9 hops; with
    // pointer doubling one round reaches distance ~2, so maxIter = 1
    // cannot converge
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      DedupFunctions.dupClusters(pairs, maxIter = 1, strict = true).collect()
    }
    // non-strict still returns (possibly partial) labels for the same cap
    assert(DedupFunctions.dupClusters(pairs, maxIter = 1).count() == 10)
    // and an adequate cap converges to one cluster under strict
    val labels = DedupFunctions.dupClusters(pairs, maxIter = 10, strict = true)
      .select(col("cluster_id")).distinct().collect()
    assert(labels.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("sketch aggregators skip null inputs like built-in aggregates") {
    val df = Seq(Some(10.0), Some(20.0), None, None).toDF("v")
    // null-injection would make the summary [0,0,10,20] and the
    // rank-pick median 0.0; null-skipping gives [10,20] -> 10.0
    val med = df.agg(QuantileSketch.quantiles(col("v"), 64, Seq(0.5)))
      .head.getSeq[Double](0).head
    assert(med == 10.0, s"nulls must not inject zeros, got median $med")
    val keys = Seq(Some("a"), None, Some("a"), Some("b"), None).toDF("k")
    // pre-fix: NPE in MurmurHash3 / null map key at encode
    val cm = keys.agg(CountMin.sketch(col("k"), width = 64)).head
    assert(cm != null)
    val mg = keys.agg(HeavyHitters.sketch(col("k"), capacity = 4))
      .head.getMap[String, Long](0)
    assert(mg.get("a").contains(2L) && mg.get("b").contains(1L))
    assert(!mg.keys.exists(_ == null))
  }

  test("zero-norm embeddings never score, pair, or claim top-k slots") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (9L, Array(0.0, 0.0))). // failed encoder: no direction
      toDF("vec_id", "embedding")
    // pre-fix: sim = 0/0 = NaN sorts ABOVE every double, so the zero
    // vector ranked first for every query and paired with everything
    val topk = VectorFunctions.bruteForceTopK(
      vecs.filter(col("vec_id") === 1L), vecs, "vec_id", "embedding", k = 2)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(!topk.contains(9L), "zero vector must not claim a top-k slot")
    val pairs = VectorFunctions.cosineNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"zero vector must not pair: $pairs")
  }

  test("semanticDecontaminate: a zero-norm bench vector must not wipe the corpus") {
    // pre-fix: cosine(corpus, zero-bench) = 0/0 = NaN, NaN >= t is
    // TRUE under Spark NaN ordering, and the left_anti join deleted
    // EVERY corpus row on one failed-encoder bench vector
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)),
      (9L, Array(0.0, 0.0))).toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(0.0, 0.0)), // failed encoder in the eval suite
      (101L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val kept = VectorFunctions.semanticDecontaminate(
        corpus, bench, "embedding", threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 1 drops (true hit vs 101); 2 survives; the zero-norm CORPUS row
    // survives too (no direction, no verified hit — the no-evidence
    // default)
    assert(kept == Set(2L, 9L), s"got $kept")
  }

  test("containmentJoin keeps a pair sitting EXACTLY at a non-dyadic threshold") {
    // t = 6/7: round(t*1e6) = 857143 lands ABOVE t, so the pre-fix
    // integer gate 6_000_000 >= 7*857143 dropped the exactly-at-
    // threshold pair; floor keeps the gate no stricter than t
    val w = (1 to 9).map(i => s"w$i")
    val d1 = w.mkString(" ")                    // shingles w1w2w3..w7w8w9: n1 = 7
    val d2 = (w.take(8) :+ "zz").mkString(" ")  // shares exactly 6 of them
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val got = DedupFunctions.containmentJoin(docs, "doc_id", "text",
        shingleN = 3, threshold = 6.0 / 7)
      .select("d1", "d2", "shared", "n1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.contains((1L, 2L, 6L, 7L)),
      s"containment exactly 6/7 must clear threshold 6/7: ${got.toSeq}")
  }

  test("langId handles 1-language and empty marker tables instead of failing analysis") {
    // Spark's greatest() needs >= 2 args — a single-language table
    // ("is this English or not") died at ANALYSIS pre-fix
    val df = Seq("the cat sat", "chien chat rue").toDF("text")
    val one = df.select(TextFunctions.langId(col("text"),
        Seq("en" -> Seq("the"))).as("l"))
      .collect().map(_.getString(0)).toList
    assert(one == List("en", "und"), s"got $one")
    val none = df.select(TextFunctions.langId(col("text"), Seq.empty).as("l"))
      .collect().map(_.getString(0)).toSet
    assert(none == Set("und"))
  }

  test("SRP-bucketed near-dup with STRING ids finds pairs (shared generator id branch)") {
    val vecs = Seq(
      ("v-a", Array(1.0, 0.0, 0.0, 0.0)), ("v-b", Array(1.0, 0.0, 0.0, 0.0)),
      ("v-c", Array(0.0, 0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    // pre-fix the blanket long cast NULLed every string id and the
    // function silently returned zero pairs
    val pairs = VectorFunctions.cosineNearDupBucketed(
      vecs, "vec_id", "embedding", dim = 4, threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("v-a", "v-b")), s"string-id pair missed: $pairs")
  }

  test("GenerationSwap surfaces rename/delete failures instead of returning") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.GenerationSwap
    val root = java.nio.file.Files.createTempDirectory("graft-swap-").toString
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    // a generation: a dir holding one part file, `_SUCCESS` when complete
    def gen(p: String, tag: String, complete: Boolean = true): Unit = {
      fs.create(new Path(p, s"part-$tag")).close()
      if (complete) fs.create(new Path(p, "_SUCCESS")).close()
    }
    // recover over every sibling combination a crash can leave: next is
    // None when absent, else Some(complete); `after` names the
    // generation live holds after recover, None when live stays missing
    case class Row(name: String, next: Option[Boolean], old: Boolean,
        live: Boolean, after: Option[String])
    val table = Seq(
      Row("live present: both siblings are swept", Some(true), true, true, Some("live")),
      Row("live missing, complete next: next is adopted", Some(true), true, false, Some("next")),
      Row("live missing, partial next, old: old is adopted", Some(false), true, false, Some("old")),
      Row("live missing, only a partial next: nothing is adopted", Some(false), false, false, None),
      Row("live missing, only old: old is adopted", None, true, false, Some("old")))
    table.zipWithIndex.foreach { case (r, i) =>
      val dir = s"$root/s$i"
      r.next.foreach(gen(s"$root/.s$i.next", "next", _))
      // a parked live dir need not carry `_SUCCESS` (a dynamic partition
      // overwrite leaves none), so old is adopted without it
      if (r.old) gen(s"$root/.s$i.old", "old", complete = false)
      if (r.live) gen(dir, "live")
      GenerationSwap.recover(fs, dir)
      assert(r.after.forall(t => fs.exists(new Path(dir, s"part-$t"))), r.name)
      assert(fs.exists(new Path(dir)) == r.after.nonEmpty, r.name)
      if (r.after.nonEmpty)
        assert(!fs.exists(new Path(s"$root/.s$i.next")) && !fs.exists(new Path(s"$root/.s$i.old")), r.name)
    }
    // replace whose write leaves no next sibling must throw (local FS
    // throws FNF itself; HDFS-style filesystems return false, which the
    // wrapper converts — either way the failure surfaces instead of returning)
    intercept[java.io.IOException] {
      GenerationSwap.replace(fs, s"$root/state")(_ => ())
    }
    // deleteIfExists on a missing path is a quiet no-op
    GenerationSwap.deleteIfExists(fs, new Path(s"$root/nope"))
    // the first generation (no prior live dir), then a second over it
    Seq("g1", "g2").foreach { tag =>
      GenerationSwap.replace(fs, s"$root/state")(gen(_, tag))
      assert(fs.listStatus(new Path(s"$root/state")).map(_.getPath.getName).toSet ==
        Set(s"part-$tag", "_SUCCESS"), tag)
      assert(!fs.exists(new Path(s"$root/.state.next")))
      assert(!fs.exists(new Path(s"$root/.state.old")))
    }
  }
}
