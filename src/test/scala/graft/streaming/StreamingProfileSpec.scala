package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

/** StreamingProfile: after any batch sequence the card equals the
  * batch profile of the concatenated input; replays skip; generations
  * recover; state stays slice-sized.
  */
class StreamingProfileSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-prof-").toString

  private val b1 = Seq(
    ("s1", "the quick brown fox jumps"), ("s1", "one two"),
    ("s2", "alpha beta gamma"))
  private val b2 = Seq(
    ("s1", "the quick brown fox jumps again and again today"),
    ("s2", "alpha delta"), ("s3", "solo"))
  private val b3 = Seq(
    ("s1", "short"), ("s2", "beta gamma epsilon zeta eta theta iota"))

  private def df(rows: Seq[(String, String)]) = rows.toDF("slice", "text")

  /** Batch-mode truth with the SAME definitions the sketches answer:
    * exact counts, exact distinct (sparse regime), and the weighted-CDF
    * median = smallest value with cumulative weight >= n/2. */
  private def expected(rows: Seq[(String, String)]): Map[String, (Long, Long, Long, Long)] =
    rows.groupBy(_._1).map { case (s, rs) =>
      val toks = rs.map(_._2.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
      val ntoks = toks.map(_.size.toLong).sorted
      val med = ntoks(math.ceil(0.5 * ntoks.size).toInt - 1)
      s -> (rs.size.toLong, ntoks.sum, toks.flatten.distinct.size.toLong, med)
    }

  private def card(p: StreamingProfile): Map[String, (Long, Long, Long, Long)] =
    p.profile.get.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("incremental card equals the batch card of the concatenation") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    p.applyBatch(df(b1), 0L)
    assert(card(p) == expected(b1))
    p.applyBatch(df(b2), 1L)
    assert(card(p) == expected(b1 ++ b2))
    p.applyBatch(df(b3), 2L)
    assert(card(p) == expected(b1 ++ b2 ++ b3))
  }

  test("drift: identical incoming distribution scores zero; a 2x length shift scores 0.5") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    // history: slice s1 with token lengths 2,4,6,8 (exact regime)
    val hist = Seq(
      ("s1", "a b"), ("s1", "a b c d"),
      ("s1", "a b c d e f"), ("s1", "a b c d e f g h"))
    p.applyBatch(df(hist), 0L)
    // batch drawn from the SAME distribution -> every rel_gap is 0
    val same = p.drift(df(hist)).get.collect()
    assert(same.nonEmpty)
    same.foreach(r => assert(r.getDouble(4) == 0.0, r.toString))
    // batch with every length DOUBLED -> exact ladders differ 2x,
    // rel_gap = |h - 2h| / 2h = 0.5 at every quantile
    val shifted = Seq(
      ("s1", "a b c d"), ("s1", "a b c d e f g h"),
      ("s1", "a b c d e f g h i j k l"),
      ("s1", "a b c d e f g h i j k l m n o p"))
    val gaps = p.drift(df(shifted)).get.collect()
    assert(gaps.nonEmpty)
    gaps.foreach(r => assert(math.abs(r.getDouble(4) - 0.5) < 1e-12,
      r.toString))
    // a slice with NO history is the most-drifted input there is —
    // it must surface as FULL-ALERT rows (hist_v null, rel_gap 1.0,
    // vocab_novelty 1.0), never pass the gate unexamined
    val newSlice = p.drift(df(Seq(("s9", "a b c")))).get.collect()
    assert(newSlice.nonEmpty, "a brand-new slice must not be invisible")
    newSlice.foreach { r =>
      assert(r.isNullAt(2) && r.getDouble(4) == 1.0 &&
        r.getAs[Double]("vocab_novelty") == 1.0, r.toString)
    }
    // and drift is read-only: the stored card is untouched
    assert(card(p) == expected(hist))
  }

  test("drift: vocab_novelty flags a content flip the length ladder is blind to") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    // history vocabulary: tokens a..h, lengths 2,4,6,8
    val hist = Seq(
      ("s1", "a b"), ("s1", "a b c d"),
      ("s1", "a b c d e f"), ("s1", "a b c d e f g h"))
    p.applyBatch(df(hist), 0L)
    // identical batch: ladder 0 AND novelty 0 (all tokens known)
    val same = p.drift(df(hist)).get.collect()
    same.foreach { r =>
      assert(r.getDouble(4) == 0.0, r.toString)
      assert(r.getAs[Double]("vocab_novelty") == 0.0, r.toString)
    }
    // template/language flip: SAME token lengths (every rel_gap 0 —
    // the ladder alone passes it) but an entirely new vocabulary q..x
    // — exact in the HLL sparse regime, so novelty is exactly 1
    val flipped = Seq(
      ("s1", "q r"), ("s1", "q r s t"),
      ("s1", "q r s t u v"), ("s1", "q r s t u v w x"))
    val flip = p.drift(df(flipped)).get.collect()
    assert(flip.nonEmpty)
    flip.foreach { r =>
      assert(r.getDouble(4) == 0.0,
        s"lengths unchanged, the ladder must NOT alert: $r")
      assert(r.getAs[Double]("vocab_novelty") == 1.0,
        s"disjoint vocabulary must alert at novelty 1: $r")
    }
    // half-known vocabulary scores a half novelty
    val mixed = Seq(("s1", "a b q r"))
    val mix = p.drift(df(mixed)).get.collect()
    mix.foreach(r => assert(r.getAs[Double]("vocab_novelty") == 0.5,
      s"2 of 4 tokens new: $r"))
  }

  test("drift: lang_chisq flags a language-mix shift that lengths AND vocabulary both miss") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    // history: 2 en + 2 de docs, lengths paired {4,6} per language —
    // marker words pin the classifier (en: the/a/value; de: table/key)
    val en4 = "the a value x"; val en6 = "the a value x y z"
    val de4 = "table key x y"; val de6 = "table key x y z w"
    val hist = Seq(("s1", en4), ("s1", en6), ("s1", de4), ("s1", de6))
    p.applyBatch(df(hist), 0L)
    // state carries the merged mix
    val lm = p.state.get.filter(col("slice") === "s1")
      .select("lang_m").collect().head.getAs[Map[String, Long]](0)
    assert(lm == Map("en" -> 2L, "de" -> 2L), s"state mix: $lm")
    // identical batch: all three dimensions exactly 0
    p.drift(df(hist)).get.collect().foreach { r =>
      assert(r.getDouble(4) == 0.0 &&
        r.getAs[Double]("vocab_novelty") == 0.0 &&
        r.getAs[Double]("lang_chisq") == 0.0, r.toString)
    }
    // all-en batch built ONLY from history's en docs: same length
    // multiset {4,4,6,6} (ladder blind), vocabulary fully known
    // (novelty blind) — but the mix flipped en:de 2:2 -> 4:0.
    // Exact χ²: en cell (2·16−... ) diff=8 → 64/96; de diff=−8 →
    // 64/32; total 8/3
    val flip = Seq(("s1", en4), ("s1", en6), ("s1", en4), ("s1", en6))
    val rows = p.drift(df(flip)).get.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) == 0.0, s"lengths unchanged: $r")
      assert(r.getAs[Double]("vocab_novelty") == 0.0, s"vocab known: $r")
      assert(math.abs(r.getAs[Double]("lang_chisq") - 8.0 / 3) < 1e-12,
        s"mix flip must score the exact 2-sample chi-square: $r")
    }
  }

  test("property: random batch sequences — incremental card equals batch truth at every step") {
    // The merge-closure claim under randomization, not just the three
    // hand-written batches: for generated (slice, text) batches the
    // folded card must equal the batch-mode truth of the concatenation
    // after EVERY applyBatch (counters are sums, both sketch families
    // merge-closed, the language maps key-sum — any drift is a
    // round-trip bug). Raw ScalaCheck generators with fixed seeds (the
    // scalatest bridge artifact is not in the offline cache).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("the", "a", "value", "table", "key", "query",
      "group", "fast", "slow", "stream", "row", "alpha", "beta")
    val docGen: Gen[(String, String)] = for {
      slice <- Gen.oneOf("s1", "s2", "s3")
      len <- Gen.choose(1, 9)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield (slice, ws.mkString(" "))
    val batchGen: Gen[Seq[(String, String)]] = for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, docGen)
    } yield rows
    val params = Gen.Parameters.default
    (0 until 3).foreach { trial =>
      val p = new StreamingProfile(spark, tmp() + "/state")
      var seen = Seq.empty[(String, String)]
      (0 until 4).foreach { b =>
        val batch = batchGen.pureApply(params,
          Seed(7000L + trial * 100L + b))
        p.applyBatch(df(batch), b.toLong)
        seen ++= batch
        assert(card(p) == expected(seen),
          s"trial $trial after batch $b: card drifted from batch truth")
      }
      // and the drift screen stays well-formed over the random state
      val d = p.drift(df(seen.take(3))).get.collect()
      d.foreach { r =>
        assert(r.getDouble(4) >= 0.0 &&
          r.getAs[Double]("vocab_novelty") >= 0.0 &&
          r.getAs[Double]("lang_chisq") >= 0.0, r.toString)
      }
    }
  }

  test("LangMix: K-slice incremental state equals the one-shot fold, and chisq served from state equals the direct q158 form") {
    // the q185 endurance property (q147/q183/q184 discipline): cells
    // are the test's exact sufficient statistic, so ANY slicing must
    // merge to the one-shot fold — and the chisq output is the SAME
    // plan either way (shared helper), so equality here pins that the
    // incremental path serves the full drift screen from state alone
    val rows = (0 until 120).map { i =>
      (i.toLong, s"src${i % 3}", if (i % 11 == 0) null else s"l${i % 5}")
    }
    val d = rows.toDF("doc_id", "source", "lang")
    val oneShot = LangMix.observeIncrement(LangMix.emptyState(spark), d)
    val incr = (0 until 5).foldLeft(LangMix.emptyState(spark)) { (st, k) =>
      LangMix.observeIncrement(st, d.filter(col("doc_id") % 5 === k))
    }
    def cellMap(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cellMap(incr) == cellMap(oneShot),
      "5-slice merged state must equal the one-shot cells fold")
    assert(cellMap(oneShot)(("src0", "(null)")) > 0,
      "NULL lang must normalize into the (null) cell, not vanish from join keys")
    val direct = LangMix.chisq(
      d.groupBy(col("source"), coalesce(col("lang"), lit("(null)")).as("lang"))
        .agg(count(lit(1)).as("o"))).collect().map(_.toSeq)
    val served = LangMix.chisq(incr).collect().map(_.toSeq)
    assert(served.toSeq == direct.toSeq,
      "chisq from 5-slice state must equal the direct last-batch form")
  }

  test("replayed batch ids are skipped (foreachBatch at-least-once)") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    p.applyBatch(df(b1), 0L)
    p.applyBatch(df(b2), 1L)
    val before = card(p)
    p.applyBatch(df(b2), 1L) // replay
    p.applyBatch(df(b1), 0L) // older replay
    assert(card(p) == before)
    assert(p.appliedBatchId == 1L)
  }

  test("state is one row per slice, not row-scaled") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    val big = (1 to 500).map(i => (s"s${i % 4}", s"w$i x$i y$i"))
    p.applyBatch(df(big), 0L)
    p.applyBatch(df(big.map { case (s, t) => (s, t + " more") }), 1L)
    assert(p.state.get.count() == 4)
  }

  test("crash between write and swap: the complete generation is adopted") {
    val dir = tmp()
    val p = new StreamingProfile(spark, dir + "/state")
    p.applyBatch(df(b1), 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    p.state.get.write.parquet(dir + "/.state.next")
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/state"), true)
    val p2 = new StreamingProfile(spark, dir + "/state")
    assert(card(p2) == expected(b1))
  }

  test("empty batch is a no-op; profile before any data is None") {
    val p = new StreamingProfile(spark, tmp() + "/state")
    assert(p.profile.isEmpty && p.appliedBatchId == -1L)
    p.applyBatch(df(Seq.empty), 0L)
    assert(p.profile.isEmpty)
    p.applyBatch(df(b1), 1L)
    assert(card(p) == expected(b1))
  }
}
