package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Message
import graft.functions.TextFunctions
import graft.queries.LlmQueries
import graft.router.{Ctx, Middlewares, Router, Stages}
import graft.sources.MemoryPubSub

/** Streaming curation: the LLM text operators composed INSIDE a Router
  * stage (Dataset-level, Catalyst-compiled — not per-row Scala), with
  * per-row destinations flowing through the routed single-pass sink:
  * quality gate + language id decide each document's topic
  * (`kept_<lang>` or `rejected`) while the batch stays one plan.
  */
class StreamingCurationSpec extends SparkSpec {

  import spark.implicits._

  private val stop = Seq("the", "a", "of", "and", "to")
  private val floor = 0.5

  test("documents route to kept_<lang>/rejected topics by streaming quality gate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 80)
      .select(col("doc_id").cast("string").as("uuid"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))

    val src = new MemoryPubSub(spark)
    val sink = new MemoryPubSub(spark) // one-pass publishRoutedEpoch sink

    // the curation stage: pure column expressions over the envelope
    val curate: Stages.Stage = ds => {
      val df = ds.toDF()
        .withColumn("_text", col("payload").cast("string"))
        .withColumn("_q", TextFunctions.qualityScore(col("_text"), stop))
        .withColumn("_lang",
          TextFunctions.langId(col("_text"), LlmQueries.LangMarkers))
        .withColumn("metadata", map_concat(col("metadata"),
          map(
            lit(Ctx.TopicOverride),
            when(col("_q") >= floor, concat(lit("kept_"), col("_lang")))
              .otherwise(lit("rejected")),
            lit("quality"), col("_q").cast("string"))))
        .drop("_text", "_q", "_lang")
      df.as[Message]
    }

    val router = new Router(spark)
    router.addHandler("curator", "docs_in", src, "rejected", sink,
      Middlewares.passthrough, stages = Seq(curate))
    router.run()
    try {
      src.publish("docs_in", docs.map { case (u, text) =>
        Message(u, Map.empty, text.getBytes("UTF-8"),
          new Timestamp(1700000000000L))
      }.toSeq)
      router.processAllAvailable()

      // expected assignment: the same expressions, batch-side
      val expected = docs.toSeq.toDF("uuid", "text")
        .select(col("uuid"),
          when(TextFunctions.qualityScore(col("text"), stop) >= floor,
            concat(lit("kept_"), TextFunctions.langId(col("text"), LlmQueries.LangMarkers)))
            .otherwise(lit("rejected")).as("topic"))
        .collect().map(r => r.getString(0) -> r.getString(1))
      val byTopic = expected.groupBy(_._2).map { case (t, xs) =>
        t -> xs.map(_._1).toSet
      }
      assert(byTopic.size > 1, s"test should exercise >1 destination, got $byTopic")

      byTopic.foreach { case (topic, uuids) =>
        val got = sink.subscribeBatch(topic).collect()
        assert(got.map(_.getAs[String]("uuid")).toSet == uuids,
          s"topic $topic delivered wrong set")
        // transported metadata survives; internal _graft_ keys are stripped
        val meta = got.head.getAs[Map[String, String]]("metadata")
        assert(meta.contains("quality"))
        assert(!meta.keys.exists(_.startsWith(Ctx.InternalPrefix)))
      }
    } finally router.close()
  }

  test("streaming near-dup: cross-batch duplicates dropped, index state bounded") {
    val src = new MemoryPubSub(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-snd-").toString
    val nd = new StreamingNearDup(spark, dir + "/index", minSim = 0.5)
    val nBands = 12 / 2 // default k / r
    val kept = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    val q = src.subscribe("docs_nd").writeStream
      .option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val docs = b.select(col("uuid").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
        nd.processBatch(docs).collect()
          .foreach(r => kept(r.getAs[Long]("doc_id")) = true)
        ()
      }.start()
    def pub(rows: (Long, String)*): Unit = {
      src.publish("docs_nd", rows.map { case (i, t) =>
        Message(i.toString, Map.empty, t.getBytes("UTF-8"),
          new Timestamp(1700000000000L + i))
      }.toSeq)
      q.processAllAvailable()
    }
    val tA = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val tA2 = tA.replace("home tonight", "home forever") // near-dup, not exact
    val tB = "colorless green ideas sleep furiously while syntax dreams of semantic rivers flowing"
    val tC = "spark structured streaming joins minhash bands against a persistent parquet index"
    try {
      pub(1L -> tA, 2L -> tB)
      assert(kept.keySet == Set(1L, 2L), s"batch 1 all new, got ${kept.keySet}")
      // batch 2: 3 ≈ tA (cross-batch near-dup), 4 new, 5 = tB exactly
      // (cross-batch), 6 = 4's text (WITHIN-batch, larger id loses)
      pub(3L -> tA2, 4L -> tC, 5L -> tB, 6L -> tC)
      assert(kept.keySet == Set(1L, 2L, 4L),
        s"cross- and within-batch duplicates must drop, got ${kept.keySet}")
      val stateAfter = nd.indexSize()
      assert(stateAfter == 3 * nBands,
        s"index holds RETAINED docs only (3 docs x $nBands bands), got $stateAfter")
      // a duplicate flood adds zero state and zero survivors
      pub(7L -> tA, 8L -> tB, 9L -> tC)
      assert(kept.keySet == Set(1L, 2L, 4L))
      assert(nd.indexSize() == stateAfter,
        "duplicates must contribute no index state")

      // the index is hive-partitioned by (batch_id, band) on disk —
      // batch_id is the replay-overwrite unit, band the join prune …
      val batchDirs = new java.io.File(dir + "/index").listFiles()
        .filter(_.getName.startsWith("batch_id=")).map(_.getName)
      assert(batchDirs.nonEmpty, "expected batch_id partition dirs")
      val bandDirs = new java.io.File(dir + "/index/" + batchDirs.head)
        .listFiles().filter(_.getName.startsWith("band=")).map(_.getName).sorted
      assert(bandDirs.toSeq == (0 until nBands).map(b => s"band=$b"),
        s"expected one directory per band, got ${bandDirs.toSeq}")
      // … and a banded view pushes the band list into the scan's
      // PARTITION filters (directory prune, not a full-index scan)
      val one = nd.indexForBands(Seq(0)).get
      assert(one.count() == 3, "3 retained docs x 1 band")
      val plan = one.queryExecution.sparkPlan.toString
      assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*band[^\\]]*\\].*"),
        s"band filter must be a partition filter, plan:\n$plan")
    } finally q.stop()
  }

  test("near-dup evaluates the caller's batch ONCE per processBatch consumer (pin precedes the append)") {
    // regression: the kept-set pin used to come AFTER the index append,
    // so `kept` (and through it the caller's batch source) evaluated a
    // THIRD time in the pin — and with retention set, the index view's
    // current_timestamp() could cross the horizon between the append's
    // evaluation and the pin's, drifting the returned kept-set from
    // the rows just indexed. Post-fix the batch computes exactly twice
    // (once into the persisted bands, once as the anti-join's left
    // side inside the single pin action); pre-fix this probe reads 3x.
    val dir = java.nio.file.Files.createTempDirectory("graft-snd1x-").toString
    val nd = new StreamingNearDup(spark, dir + "/index", minSim = 0.5,
      retention = Some("1 hour"))
    import spark.implicits._
    NearDupEvalProbe.computes.set(0)
    val nParts = 2
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again tonight"),
      (2L, "colorless green ideas sleep furiously while syntax dreams deep"))
      .toDF("doc_id", "text").repartition(nParts)
      .as[(Long, String)]
      .mapPartitions { it => NearDupEvalProbe.computes.incrementAndGet(); it }
      .toDF("doc_id", "text")
    val kept = nd.processBatch(batch, batchId = 0L)
    assert(kept.count() == 2)
    val evals = NearDupEvalProbe.computes.get / nParts
    assert(evals == 2,
      s"batch source must compute exactly twice (bands + pinned anti-join), got $evals evaluations")
  }

  test("CurationStages compose: PII scrub + decontaminate + quality route in one handler") {
    import org.apache.spark.sql.Dataset
    val clean = "the quick value of a table scan is the key to fast query group work"
    val pii = s"email bob@example.com says: $clean"
    val contaminated = "benchmark question one two three four five six seven"
    val bench: Dataset[String] = Seq("held-out benchmark question one two three four five six").toDS()
    val benchHashes = CurationStages.benchmarkHashes(bench)
    assert(benchHashes.nonEmpty)

    val src = new MemoryPubSub(spark)
    val sink = new MemoryPubSub(spark)
    val router = new Router(spark)
    router.addHandler("curate2", "in2", src, "rejected", sink,
      Middlewares.passthrough,
      stages = Seq(
        CurationStages.redactPii,
        CurationStages.decontaminate(benchHashes),
        CurationStages.minTokens(5),
        CurationStages.qualityRoute(stop, floor, LlmQueries.LangMarkers)))
    router.run()
    try {
      src.publish("in2", Seq(
        Message("pii", Map.empty, pii.getBytes("UTF-8"), new Timestamp(1700000000000L)),
        Message("contam", Map.empty, contaminated.getBytes("UTF-8"), new Timestamp(1700000000000L)),
        Message("short", Map.empty, "tiny".getBytes("UTF-8"), new Timestamp(1700000000000L))))
      router.processAllAvailable()
      val delivered = Seq("kept_en", "rejected").flatMap(t =>
        sink.subscribeBatch(t).collect().map(r =>
          r.getAs[String]("uuid") -> new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))
      val byId = delivered.toMap
      // contaminated doc shares a 5-gram with the benchmark -> dropped
      assert(!byId.contains("contam"), s"contaminated doc must not ship: $byId")
      // short doc dropped by the token floor
      assert(!byId.contains("short"))
      // PII doc survives but redacted
      assert(byId.contains("pii") && byId("pii").contains("<EMAIL>") &&
        !byId("pii").contains("@"), s"got ${byId.get("pii")}")
    } finally router.close()
  }

  test("decontaminateBloom: sketch-backed drop agrees with the exact literal set") {
    import org.apache.spark.sql.Dataset
    val bench: Dataset[String] =
      Seq("held-out benchmark question one two three four five six").toDS()
    val bf = CurationStages.benchmarkBloom(bench, expectedNgrams = 64)
    val exact = CurationStages.benchmarkHashes(bench).toSet
    // the sketch admits every true member (no false negatives)
    exact.foreach(h => assert(bf.mightContainLong(h), s"missing true member $h"))

    val contaminated = "benchmark question one two three four five six seven"
    val clean = "the quick value of a table scan is the key to fast query group"
    val src = new MemoryPubSub(spark)
    val sink = new MemoryPubSub(spark)
    val router = new Router(spark)
    router.addHandler("bloomdecon", "in3", src, "out3", sink,
      Middlewares.passthrough, stages = Seq(CurationStages.decontaminateBloom(bf)))
    router.run()
    try {
      src.publish("in3", Seq(
        Message("contam", Map.empty, contaminated.getBytes("UTF-8"),
          new Timestamp(1700000000000L)),
        Message("clean", Map.empty, clean.getBytes("UTF-8"),
          new Timestamp(1700000000000L))))
      router.processAllAvailable()
      val got = sink.subscribeBatch("out3").collect().map(_.getAs[String]("uuid")).toSet
      assert(got == Set("clean"), s"bloom decon delivered $got")
    } finally router.close()
  }

  test("composed graph: quality → near-dup → quota in ONE foreachBatch over 3 micro-batches") {
    // The full streaming curation pipeline as a single per-batch plan
    // chain — the streaming twin of q116's batch capstone. Stage order
    // is the production one: stateless quality gate first (rejects
    // never touch state), then the near-dup index (a deduped doc must
    // not consume quota), then the per-language budget. The index
    // grows by DEDUP survivors (including quota-rejected docs: they
    // were seen, so their future near-dups stay dups); the budget
    // ledger grows only by admitted docs.
    val src = new MemoryPubSub(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-graph").toString
    val nd = new StreamingNearDup(spark, dir + "/index", minSim = 0.5)
    val nBands = 12 / 2
    val quota = new StreamingQuota(spark, dir + "/quota",
      keyCol = "lang", orderCol = "doc_id", tieCol = "doc_id", budget = 2)
    val admitted = scala.collection.concurrent.TrieMap.empty[Long, String]
    val q = src.subscribe("docs_graph").writeStream
      .option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val scored = b.select(col("uuid").cast("long").as("doc_id"),
            col("payload").cast("string").as("text"))
          .withColumn("lang",
            TextFunctions.langId(col("text"), LlmQueries.LangMarkers))
          .filter(TextFunctions.qualityScore(col("text"), stop) >= floor)
        val deduped = nd.processBatch(scored)
        quota.admit(deduped).collect().foreach(r =>
          admitted(r.getAs[Long]("doc_id")) = r.getAs[String]("lang"))
        ()
      }.start()
    def pub(rows: (Long, String)*): Unit = {
      src.publish("docs_graph", rows.map { case (i, t) =>
        Message(i.toString, Map.empty, t.getBytes("UTF-8"),
          new Timestamp(1700000000000L + i))
      }.toSeq)
      q.processAllAvailable()
    }
    // en docs carry marker tokens (the/a/value); und docs carry none
    val tA = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val tA2 = tA.replace("home tonight", "home forever") // near-dup of tA
    val tB = "colorless green ideas sleep furiously while syntax dreams of semantic rivers flowing"
    val tC = "spark structured streaming joins minhash bands against a persistent parquet index"
    val junk = "zzz zzz zzz zzz zzz zzz!!!" // fails the quality floor
    val tEn2 = "a model trains on curated tokens while the gpu cluster hums along quietly"
    val tEn3 = "the final batch arrives with a fresh document about data quality and tokens"
    val tUnd2 = "morning fog settles quietly between tall mountains where rivers carve stone canyons slowly"
    try {
      // batch 1: quality reject (2) must touch neither index nor quota
      pub(1L -> tA, 2L -> junk, 3L -> tB)
      assert(admitted.toMap == Map(1L -> "en", 3L -> "und"),
        s"batch 1: ${admitted.toMap}")
      assert(nd.indexSize() == 2 * nBands,
        "quality rejects must not enter the dedup index")

      // batch 2: 4 ≈ tA (cross-batch near-dup — must NOT consume en
      // quota), 5 admits (en 2/2), 6 straddles the en budget WITHIN
      // the batch and is quota-rejected (but was seen → indexed)
      pub(4L -> tA2, 5L -> tC, 6L -> tEn2)
      assert(admitted.toMap ==
        Map(1L -> "en", 3L -> "und", 5L -> "en"), s"batch 2: ${admitted.toMap}")
      assert(nd.indexSize() == 4 * nBands,
        "dedup drops add no state; quota rejects do (they were seen)")

      // batch 3: 7 en is budget-exhausted, 8 is an exact cross-batch
      // dup of tA, 9 und admits (und 2/2)
      pub(7L -> tEn3, 8L -> tA, 9L -> tUnd2)
      assert(admitted.toMap ==
        Map(1L -> "en", 3L -> "und", 5L -> "en", 9L -> "und"),
        s"batch 3: ${admitted.toMap}")
      assert(nd.indexSize() == 6 * nBands, s"got ${nd.indexSize()}")
      val used = quota.used().get.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(used == Map("en" -> 2L, "und" -> 2L), s"ledger: $used")
    } finally q.stop()
  }

  test("drift-gated ingestion: a drifted batch is quarantined BEFORE it pollutes the profile") {
    // The drift screen in its production position: foreachBatch runs
    // drift() FIRST (reading only stored kilobyte states), and only a
    // batch under the alert thresholds folds into the profile. A
    // quarantined batch leaves the card untouched — so the detector
    // it would have skewed still fires on the NEXT bad batch.
    val dir = java.nio.file.Files.createTempDirectory("graft-dgate-").toString
    val p = new StreamingProfile(spark, dir + "/state")
    val src = new MemoryPubSub(spark)
    val quarantined = scala.collection.concurrent.TrieMap.empty[Long, String]
    var nextId = 0L
    val q = src.subscribe("docs_dg").writeStream
      .option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val docs = b.select(col("metadata")("slice").as("slice"),
          col("payload").cast("string").as("text"))
        val alerts = p.drift(docs).map(_.groupBy(col("slice")).agg(
            max(col("rel_gap")).as("g"), max(col("vocab_novelty")).as("v"),
            max(col("lang_chisq")).as("c"))
          .filter(col("g") > 0.4 || col("v") > 0.5 || col("c") > 1.0)
          .select("slice").collect().map(_.getString(0)).toSet)
          .getOrElse(Set.empty)
        if (alerts.isEmpty) p.applyBatch(docs, batchId)
        else alerts.foreach(s => quarantined(batchId) = s)
        ()
      }.start()
    def pub(slice: String, texts: String*): Unit = {
      src.publish("docs_dg", texts.map { t =>
        nextId += 1
        Message(nextId.toString, Map("slice" -> slice),
          t.getBytes("UTF-8"), new Timestamp(1700000000000L + nextId))
      })
      q.processAllAvailable()
    }
    val normal = Seq("the a value of this table", "the a value grows",
      "a value the stream keeps", "the a value of rows")
    try {
      pub("s1", normal: _*) // batch 0: no history yet -> folds
      pub("s1", normal: _*) // batch 1: identical -> folds
      assert(quarantined.isEmpty)
      val before = p.profile.get.filter(col("slice") === "s1")
        .select("n_docs").head.getLong(0)
      assert(before == 8L)
      // batch 2: language flip (same-ish lengths, de markers) -> gated
      pub("s1", "table key rows columns pages here",
        "table key grows fast", "key table stream holds",
        "table key of pages")
      assert(quarantined.values.toSet == Set("s1"),
        s"drifted batch must quarantine: $quarantined")
      val after = p.profile.get.filter(col("slice") === "s1")
        .select("n_docs").head.getLong(0)
      assert(after == before,
        "a quarantined batch must NOT fold into the profile")
      // batch 3: normal again -> folds (the detector survived intact)
      pub("s1", normal: _*)
      assert(p.profile.get.filter(col("slice") === "s1")
        .select("n_docs").head.getLong(0) == 12L)
    } finally q.stop()
  }

  test("near-dup replay: a replayed foreachBatch batch keeps the same survivors, not zero") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sndrp-").toString
    val nd = new StreamingNearDup(spark, dir + "/index", minSim = 0.5)
    val tA = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val tB = "completely different content about database engines and vectorized execution paths"
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def keptIds(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 5: two distinct docs survive, bands indexed under batch_id=5
    val first = keptIds(nd.processBatch(docs(1L -> tA, 2L -> tB), batchId = 5L))
    assert(first == Set(1L, 2L))
    val sizeAfterFirst = nd.indexSize()
    // REPLAY of batch 5 (downstream failed; foreachBatch re-runs): the
    // batch must NOT match its own first attempt's index rows — the
    // pre-fix behavior dropped every survivor as a self-duplicate
    val replay = keptIds(nd.processBatch(docs(1L -> tA, 2L -> tB), batchId = 5L))
    assert(replay == Set(1L, 2L), s"replay lost survivors: $replay")
    assert(nd.indexSize() == sizeAfterFirst,
      "replay must overwrite its own partitions, not duplicate index rows")
    // and a LATER batch still dedups against batch 5's docs
    val next = keptIds(nd.processBatch(docs(10L -> tA, 11L -> (tB + " extra")),
      batchId = 6L))
    assert(!next.contains(10L), "cross-batch dup must still be dropped")
  }

  test("quota replay: a replayed batch admits the same rows instead of double-counting") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqrp-").toString + "/state"
    val quota = new StreamingQuota(spark, dir,
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 3)
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(quota.admit(batch(1L -> "a", 2L -> "a"), batchId = 0L)) ==
      Set(1L, 2L))
    // batch 1 first attempt: 1 of 2 rows fits the remaining budget
    assert(ids(quota.admit(batch(3L -> "a", 4L -> "a"), batchId = 1L)) ==
      Set(3L))
    // REPLAY of batch 1: must admit the SAME row (pre-fix the first
    // attempt's delta already counted, so the replay admitted nothing
    // — its output was never committed downstream: data loss) and the
    // ledger must not double-count
    assert(ids(quota.admit(batch(3L -> "a", 4L -> "a"), batchId = 1L)) ==
      Set(3L), "replay must re-admit its own rows")
    val used = quota.used().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(used == Map("a" -> 3L), s"ledger double-counted: $used")
    // budget now exhausted for later batches
    assert(ids(quota.admit(batch(5L -> "a"), batchId = 2L)).isEmpty)
  }

  test("streaming quota: cumulative per-key budget across batches, deterministic, compactable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-squota").toString + "/state"
    val quota = new StreamingQuota(spark, dir,
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 3)
    def batch(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // batch 1: srcA has 2 of budget 3, srcB exceeds within one batch
    val b1 = quota.admit(batch(1L -> "a", 2L -> "a",
      10L -> "b", 11L -> "b", 12L -> "b", 13L -> "b", 14L -> "b"))
    assert(ids(b1) == Set(1L, 2L, 10L, 11L, 12L),
      s"b must cap at 3 lowest doc_ids, got ${ids(b1)}")

    // batch 2: srcA has 1 left; srcB is exhausted; new key c admits
    val b2 = quota.admit(batch(3L -> "a", 4L -> "a", 15L -> "b", 20L -> "c"))
    assert(ids(b2) == Set(3L, 20L), s"got ${ids(b2)}")

    // batch 3: everything exhausted except c
    val b3 = quota.admit(batch(5L -> "a", 16L -> "b", 21L -> "c", 22L -> "c"))
    assert(ids(b3) == Set(21L, 22L), s"got ${ids(b3)}")

    // state folds without changing the admitted ledger
    quota.compact()
    val usedAfter = quota.used().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(usedAfter == Map("a" -> 3L, "b" -> 3L, "c" -> 3L), s"got $usedAfter")
    // post-compact admissions still see the exhausted budgets
    val b4 = quota.admit(batch(6L -> "a", 23L -> "c"))
    assert(ids(b4).isEmpty, s"budgets exhausted, got ${ids(b4)}")
  }

  test("incremental domain quota: cap tracks growing totals, replay admits the same rows, folds match the batch form") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdq-").toString + "/state"
    val dq = new StreamingDomainQuota(spark, dir)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def stateRows(df: org.apache.spark.sql.DataFrame) =
      df.select("domain", "n_docs", "n_admitted", "admitted_id_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    // batch 0: a skewed 8/2 — N=10, D=2, gate 2·rn·2 ≤ 30 ⇒ rn ≤ 7:
    // domain a admits 7 of 8, b admits both
    val b0 = ((1L to 8L).map(_ -> "a") ++ Seq(9L -> "b", 10L -> "b"))
      .toDF("doc_id", "domain")
    val adm0 = dq.admit(b0, batchId = 0L)
    val perDom0 = adm0.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDom0 == Map("a" -> 7L, "b" -> 2L), s"got $perDom0")
    // streaming state == the pure fold from empty state (q182 on b0)
    val fold0 = DomainQuota.admitIncrement(DomainQuota.emptyState(spark), b0)
    assert(stateRows(dq.state().get) == stateRows(fold0))
    // batch 1: totals grow to N=20, D=3, gate a0+rn ≤ 10 — a (a0=7)
    // admits 3 of 4, b (a0=2) all 4, c (new) both
    val b1 = (Seq(20L, 21L, 22L, 23L).map(_ -> "a") ++
      Seq(24L, 25L, 26L, 27L).map(_ -> "b") ++
      Seq(28L, 29L).map(_ -> "c")).toDF("doc_id", "domain")
    val adm1 = dq.admit(b1, batchId = 1L)
    val perDom1 = adm1.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDom1 == Map("a" -> 3L, "b" -> 4L, "c" -> 2L), s"got $perDom1")
    val fold1 = DomainQuota.admitIncrement(fold0, b1)
    assert(stateRows(dq.state().get) == stateRows(fold1),
      "incremental state must equal the two-slice pure fold")
    // REPLAY of batch 1: same admitted rows, ledger not double-counted
    val admitted1 = ids(adm1)
    val replay = ids(dq.admit(b1, batchId = 1L))
    assert(replay == admitted1, s"replay drifted: $replay vs $admitted1")
    assert(stateRows(dq.state().get) == stateRows(fold1),
      "replay must not double-count the ledger")
    // compacting folds the deltas without changing the state
    dq.compact()
    assert(stateRows(dq.state().get) == stateRows(fold1))
  }

  test("streaming quota matches a greedy per-batch simulation over randomized batches") {
    // seeded random skewed batches vs a 10-line in-test oracle: per
    // batch, per key, rows sorted by (orderCol, tieCol) fill the
    // remaining budget — the operator's admitted sets must match the
    // simulation EXACTLY, every batch
    val rnd = new scala.util.Random(816L)
    val dir = java.nio.file.Files.createTempDirectory("graft-sqrand").toString + "/state"
    val quota = new StreamingQuota(spark, dir,
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 5,
      compactEvery = 2) // folds mid-run too: the invariants must survive them
    val used = scala.collection.mutable.Map.empty[String, Int]
    var nextId = 1L
    (1 to 6).foreach { b =>
      val rows = (0 until 1 + rnd.nextInt(25)).map { _ =>
        val s = s"s${math.min(rnd.nextInt(4), rnd.nextInt(4))}" // skewed
        val id = nextId; nextId += 1
        (id, s)
      }
      val expect = rows.groupBy(_._2).flatMap { case (s, xs) =>
        val take = math.max(0, 5 - used.getOrElse(s, 0))
        val adm = xs.map(_._1).sorted.take(take)
        used(s) = used.getOrElse(s, 0) + adm.size
        adm
      }.toSet
      val got = quota.admit(rows.toDF("doc_id", "source"), batchId = b.toLong)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect, s"batch $b diverged from the greedy oracle: " +
        s"got ${got.toSeq.sorted}, expect ${expect.toSeq.sorted}")
    }
    assert(used.values.exists(_ == 5), "shapes never exhausted a budget")
  }

  test("domain-quota fold invariants hold over randomized slices") {
    // seeded pseudo-random slices (deterministic in CI): skewed domain
    // draws, varying slice sizes — the shapes a crawl actually feeds.
    // Invariants checked per fold: per-domain 0 <= n_admitted <= n_docs;
    // admission MONOTONE (history never un-admits); n_docs conservation
    // (state total == rows fed); id-sum consistency (zero admitted ⇒
    // zero sum; admitted ⇒ positive sum — ids are positive here); and
    // the cap rule per fold: the gate admits only while a0 + rank ≤
    // cap_t = 3N_t div 2D_t, so after each fold n_admitted ≤
    // max(previous n_admitted, cap_t) — NOT "≤ cap_t" alone, because a
    // cap can SHRINK when new domains grow D faster than N and monotone
    // history legitimately stays above it.
    val rnd = new scala.util.Random(20260816L)
    var state = DomainQuota.emptyState(spark)
    var prevAdmitted = Map.empty[String, Long]
    var fed = 0L
    var nextId = 1L
    (0 until 5).foreach { _ =>
      val rows = (0 until (1 + rnd.nextInt(40))).map { _ =>
        // skew: domain d0 is drawn quadratically more often
        val d = s"d${math.min(rnd.nextInt(6), rnd.nextInt(6))}"
        val id = nextId; nextId += 1
        (id, d)
      }
      fed += rows.size
      state = DomainQuota.admitIncrement(state, rows.toDF("doc_id", "domain"))
        .localCheckpoint() // the fold re-reads state three times next round
      val s = state.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      s.foreach { case (d, (nd, na, idSum)) =>
        assert(na >= 0 && na <= nd, s"domain $d: admitted $na of $nd docs")
        assert(na >= prevAdmitted.getOrElse(d, 0L),
          s"domain $d un-admitted history: $na < ${prevAdmitted.getOrElse(d, 0L)}")
        assert((na == 0) == (idSum == 0),
          s"domain $d: admitted $na but id sum $idSum")
      }
      assert(s.values.map(_._1).sum == fed,
        s"state lost docs: ${s.values.map(_._1).sum} != $fed")
      val cap = 3 * fed / (2 * s.size)
      s.foreach { case (d, (_, na, _)) =>
        assert(na <= math.max(prevAdmitted.getOrElse(d, 0L), cap),
          s"domain $d admitted $na over cap $cap without prior history")
      }
      prevAdmitted = s.map { case (d, (_, na, _)) => d -> na }
    }
    // the skewed domain must actually have been capped at least once
    assert(prevAdmitted.values.sum < fed,
      "test shapes never hit the cap — weaken the skew or grow slices")
  }

  test("domain-quota gate holds at crawl-scale totals where the product form wraps Long") {
    // a0 = 2.5e18 admitted on domain a, N just over 3e18, D = 2: the
    // literal gate product (a0+rn)·D·2 ≈ 1e19 exceeds 2^63 — an ANSI
    // ARITHMETIC_OVERFLOW abort by default, a wrapped-negative silent
    // ADMIT under ansi=false; the shipped division form (cap = 3N div
    // 2D ≈ 2.25e18 < a0+rn) must instead compute fine and reject it —
    // and still admit on a domain whose a0 is under the cap
    val a0 = 2500000000000000000L // 2.5e18
    val half = 1500000000000000000L // n_docs per domain; N = 3e18 + 2
    val st = Seq(
      ("a", half, a0, 0L),
      ("b", half, 42L, 0L))
      .toDF("domain", "n_docs", "n_admitted", "admitted_id_sum")
    val nd = Seq(1L -> "a", 2L -> "b").toDF("doc_id", "domain")
    val next = DomainQuota.admitIncrement(st, nd)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(next("a") == ((half + 1, a0)),
      s"domain a over cap must stay rejected at wrap-scale totals: $next")
    assert(next("b") == ((half + 1, 43L)),
      s"domain b under cap must still admit at wrap-scale totals: $next")
  }

  test("incremental mixture: target-share caps track growing totals, replay admits the same rows, folds match") {
    val dir = java.nio.file.Files.createTempDirectory("graft-smx-").toString + "/state"
    val tb = Map("a" -> 5000, "b" -> 2500) // c unlisted → cap 0
    val mx = new StreamingMixtureQuota(spark, dir, tb)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def stateRows(df: org.apache.spark.sql.DataFrame) =
      df.select("stratum", "n_docs", "n_admitted", "admitted_id_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    // batch 0: N=12 → caps a: 5000·12/10⁴ = 6, b: 3, c: 0 —
    // a admits all 6, b admits 3 of 4, c tracked but never admitted
    val b0 = ((1L to 6L).map(_ -> "a") ++ (7L to 10L).map(_ -> "b") ++
      Seq(11L -> "c", 12L -> "c")).toDF("doc_id", "stratum")
    val adm0 = mx.admit(b0, batchId = 0L)
    val per0 = adm0.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per0 == Map("a" -> 6L, "b" -> 3L), s"got $per0")
    val fold0 = MixtureQuota.admitIncrement(
      MixtureQuota.emptyState(spark), b0, tb)
    assert(stateRows(mx.state().get) == stateRows(fold0))
    // batch 1: N grows to 20 → caps a: 10, b: 5 — a (a0=6) admits all
    // 4 new, b (a0=3) both, c still capped at 0
    val b1 = (Seq(20L, 21L, 22L, 23L).map(_ -> "a") ++
      Seq(24L, 25L).map(_ -> "b") ++
      Seq(26L, 27L).map(_ -> "c")).toDF("doc_id", "stratum")
    val adm1 = mx.admit(b1, batchId = 1L)
    val per1 = adm1.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per1 == Map("a" -> 4L, "b" -> 2L), s"got $per1")
    val fold1 = MixtureQuota.admitIncrement(fold0, b1, tb)
    assert(stateRows(mx.state().get) == stateRows(fold1),
      "incremental state must equal the two-slice pure fold")
    // REPLAY of batch 1: identical admitted set, ledger not
    // double-counted (the AdmissionDeltaStore batch-id exclusion)
    val admitted1 = ids(adm1)
    val replay = ids(mx.admit(b1, batchId = 1L))
    assert(replay == admitted1, s"replay drifted: $replay vs $admitted1")
    assert(stateRows(mx.state().get) == stateRows(fold1),
      "replay must not double-count the ledger")
    // compaction preserves the state
    mx.compact()
    assert(stateRows(mx.state().get) == stateRows(fold1))
    // monotone end state: no stratum exceeds its final-total cap
    val fin = stateRows(mx.state().get).map(t => t._1 -> t._3).toMap
    assert(fin("a") <= 10 && fin("b") <= 5 && fin("c") == 0, s"got $fin")
  }

  test("mixture gate holds at crawl-scale totals where the product form wraps Long") {
    // N ≈ 5e18: the literal cap product bp·N ≈ 1e22 wraps Long (an
    // ANSI abort / silent garbage cap) — the shipped decomposed form
    // bp·(N div 10⁴) + (bp·(N mod 10⁴)) div 10⁴ is exact for every
    // Long N. cap = 2000·N/10⁴ = 1e18 ≫ a0, so the new rows admit;
    // the unlisted stratum stays capped at 0 even at wrap scale
    val huge = 5000000000000000000L // 5e18
    val st = Seq(("a", huge, 10L, 0L))
      .toDF("stratum", "n_docs", "n_admitted", "admitted_id_sum")
    val nd = Seq(1L -> "a", 2L -> "a", 3L -> "z").toDF("doc_id", "stratum")
    val next = MixtureQuota.admitIncrement(st, nd, Map("a" -> 2000))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(next("a") == ((huge + 2, 12L)),
      s"under-cap stratum must admit at wrap-scale totals: $next")
    assert(next("z") == ((1L, 0L)),
      s"unlisted stratum must stay at cap 0: $next")
  }

  test("domain quota and mixture survive an empty micro-batch over empty state (no ANSI divide-by-zero)") {
    // regression: with empty state AND an empty batch n_domains = 0,
    // and the raw `div (n_domains * 2)` was a DIVIDE_BY_ZERO abort
    // under Spark 4's default ANSI mode — killing a stream on exactly
    // the batch where there is nothing to do
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "domain")
    val out = DomainQuota.admitIncrement(
      DomainQuota.emptyState(spark), emptyDocs)
    assert(out.count() == 0)
    val dirD = java.nio.file.Files.createTempDirectory("graft-sdqe-")
      .toString + "/state"
    val dq = new StreamingDomainQuota(spark, dirD)
    assert(dq.admit(emptyDocs, batchId = 0L).count() == 0)
    // and the batch that FOLLOWS the empty one still admits normally
    assert(dq.admit(Seq(1L -> "a").toDF("doc_id", "domain"),
      batchId = 1L).count() == 1)
    val emptyStrata = Seq.empty[(Long, String)].toDF("doc_id", "stratum")
    val outM = MixtureQuota.admitIncrement(
      MixtureQuota.emptyState(spark), emptyStrata, Map("a" -> 5000))
    assert(outM.count() == 0)
  }

  test("near-dup compactEvery folds index batches mid-stream: dirs bounded, dedup intact, replay-safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sndce-").toString + "/index"
    val nd = new StreamingNearDup(spark, dir, minSim = 0.5, compactEvery = 2)
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val tA = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val tB = "colorless green ideas sleep furiously while syntax dreams of semantic rivers flowing"
    val tC = "spark structured streaming joins minhash bands against a persistent parquet index"
    assert(ids(nd.processBatch(docs(1L -> tA), batchId = 1L)) == Set(1L))
    assert(ids(nd.processBatch(docs(2L -> tB), batchId = 2L)) == Set(2L)) // folds batch 1
    // cross-batch dedup must survive the fold: tA is now under the sentinel
    assert(ids(nd.processBatch(docs(3L -> tA, 4L -> tC), batchId = 3L)) == Set(4L))
    val b4 = ids(nd.processBatch(docs(5L -> tB), batchId = 4L)) // folds 2,3
    assert(b4.isEmpty, s"tB is indexed, got $b4")
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(dirs == Set("batch_id=-2"),
      s"index dirs unbounded after compactEvery: $dirs") // batch 4 kept nothing
    // replay of the triggering batch: same (empty) survivors, fold idempotent
    assert(ids(nd.processBatch(docs(5L -> tB), batchId = 4L)).isEmpty)
    assert(nd.indexSize() == 3 * (12 / 2), "3 retained docs x 6 bands")
  }

  test("compactEvery folds the state mid-stream: dir bounded, budgets intact, triggering batch still replay-safe") {
    def partDirs(dir: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).collect {
        case s if s.getPath.getName.startsWith("batch_id=") => s.getPath.getName
      }.toSet
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // per-key quota: compact on every even batch id
    val qdir = java.nio.file.Files.createTempDirectory("graft-sqce").toString + "/state"
    val quota = new StreamingQuota(spark, qdir,
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 3,
      compactEvery = 2)
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "source")
    quota.admit(batch(1L -> "a", 2L -> "a"), batchId = 1L)
    quota.admit(batch(3L -> "a", 4L -> "a"), batchId = 2L)   // folds batch 1
    val b3 = quota.admit(batch(5L -> "a", 20L -> "c"), batchId = 3L)
    assert(ids(b3) == Set(20L), s"budget must survive the fold, got ${ids(b3)}")
    val b4 = quota.admit(batch(21L -> "c"), batchId = 4L)    // folds 2,3
    assert(ids(b4) == Set(21L))
    assert(partDirs(qdir) == Set("batch_id=-2", "batch_id=4"),
      s"state dir unbounded after compactEvery: ${partDirs(qdir)}")
    // REPLAY of the triggering batch: same admissions, no double-count
    // (the fold kept its partition out, so the exclusion still works;
    // the re-triggered fold is idempotent)
    assert(ids(quota.admit(batch(21L -> "c"), batchId = 4L)) == Set(21L))
    val used = quota.used().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(used == Map("a" -> 3L, "c" -> 2L), s"ledger drifted: $used")

    // domain quota: same discipline, richer state columns
    val ddir = java.nio.file.Files.createTempDirectory("graft-sdqce").toString + "/state"
    val dq = new StreamingDomainQuota(spark, ddir, compactEvery = 2)
    def dbatch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "domain")
    dq.admit(dbatch(1L -> "a", 2L -> "a", 9L -> "b"), batchId = 1L)
    dq.admit(dbatch(3L -> "a", 10L -> "b"), batchId = 2L)    // folds batch 1
    val d3 = dq.admit(dbatch(4L -> "a", 11L -> "b"), batchId = 3L)
    val d3ids = ids(d3)
    val replay = ids(dq.admit(dbatch(4L -> "a", 11L -> "b"), batchId = 3L))
    assert(replay == d3ids, s"replay drifted after fold: $replay vs $d3ids")
    dq.admit(dbatch(5L -> "a"), batchId = 4L)                // folds 2,3
    assert(partDirs(ddir) == Set("batch_id=-2", "batch_id=4"),
      s"domain state dir unbounded: ${partDirs(ddir)}")
    // the folded streaming state still equals the pure two-fold —
    // attribution is gone, the sums are not
    val pure = DomainQuota.admitIncrement(
      DomainQuota.admitIncrement(
        DomainQuota.admitIncrement(
          DomainQuota.admitIncrement(DomainQuota.emptyState(spark),
            dbatch(1L -> "a", 2L -> "a", 9L -> "b")),
          dbatch(3L -> "a", 10L -> "b")),
        dbatch(4L -> "a", 11L -> "b")),
      dbatch(5L -> "a"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("domain", "n_docs", "n_admitted", "admitted_id_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(rows(dq.state().get) == rows(pure),
      "folded streaming state must equal the pure incremental fold")

    // mixture quota: the shared AdmissionDeltaStore fold through the
    // third operator's plumb-through — dir bounded, caps intact
    val mdir = java.nio.file.Files.createTempDirectory("graft-smxce")
      .toString + "/state"
    val mq = new StreamingMixtureQuota(spark, mdir, Map("a" -> 5000),
      compactEvery = 2)
    def mbatch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "stratum")
    mq.admit(mbatch(1L -> "a", 2L -> "a", 3L -> "b"), batchId = 1L)
    mq.admit(mbatch(4L -> "a", 5L -> "b"), batchId = 2L)     // folds batch 1
    mq.admit(mbatch(6L -> "a"), batchId = 3L)
    mq.admit(mbatch(7L -> "a", 8L -> "b"), batchId = 4L)     // folds 2,3
    assert(partDirs(mdir) == Set("batch_id=-2", "batch_id=4"),
      s"mixture state dir unbounded: ${partDirs(mdir)}")
    val mpure = MixtureQuota.admitIncrement(
      MixtureQuota.admitIncrement(
        MixtureQuota.admitIncrement(
          MixtureQuota.admitIncrement(MixtureQuota.emptyState(spark),
            mbatch(1L -> "a", 2L -> "a", 3L -> "b"), Map("a" -> 5000)),
          mbatch(4L -> "a", 5L -> "b"), Map("a" -> 5000)),
        mbatch(6L -> "a"), Map("a" -> 5000)),
      mbatch(7L -> "a", 8L -> "b"), Map("a" -> 5000))
    def mrows(df: org.apache.spark.sql.DataFrame) =
      df.select("stratum", "n_docs", "n_admitted", "admitted_id_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(mrows(mq.state().get) == mrows(mpure),
      "folded mixture state must equal the pure incremental fold")
  }

  test("pre-batch_id layouts fail loudly and stay byte-identical: a flat quota dir, a band=-only index") {
    // Layouts written before batch_id partitioning are not read as
    // state: the store names the dir and throws instead of reading it
    // (partition discovery would reject the mix, and the replay filter
    // has no batch_id column), and it writes nothing there.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def snapshot(dir: String): Map[String, Seq[Byte]] = {
      val root = Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      finally walk.close()
    }
    def assertRejected(dir: String)(call: => Any): Unit = {
      val before = snapshot(dir)
      val e = intercept[IllegalStateException](call)
      assert(e.getMessage.contains(dir) && e.getMessage.contains("predates batch_id"),
        s"message must name the dir and the layout: ${e.getMessage}")
      assert(snapshot(dir) == before, s"$dir must be left byte-identical")
    }

    // flat quota state: (key, n) part files, no batch_id anywhere
    val qdir = Files.createTempDirectory("graft-squota-flat").toString + "/state"
    Seq(("a", 2L)).toDF("source", "n").repartition(1).write.parquet(qdir)
    val quota = new StreamingQuota(spark, qdir,
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 3)
    assertRejected(qdir)(quota.admit(Seq((5L, "a")).toDF("doc_id", "source"), batchId = 0L))

    // band=-only index: partitioned by band alone, no batch_id level
    val idir = Files.createTempDirectory("graft-snd-band").toString + "/index"
    Seq((1L, 0, 7L, Seq(1L, 2L), new Timestamp(1700000000000L)))
      .toDF("doc_id", "band", "band_key", "sig", "ingest_ts")
      .write.partitionBy("band").parquet(idir)
    val nd = new StreamingNearDup(spark, idir, minSim = 0.5)
    val tA = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    assertRejected(idir)(nd.processBatch(Seq((3L, tA)).toDF("doc_id", "text"), batchId = 1L))
  }

  test("streaming quota: a crash mid-compact cannot silently reset budgets") {
    // Simulate every crash point of compact()'s swap by hand-arranging
    // the dirs it leaves behind; the next read must adopt the sibling
    // rather than starting from hasState=false (which would over-admit
    // exhausted keys on restart).
    import java.nio.file.{Files, Paths}
    def mkQuota() = {
      val dir = Files.createTempDirectory("graft-squota-crash").toString + "/state"
      (dir, new StreamingQuota(spark, dir,
        keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 2))
    }
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // a crash kills the INSTANCE too: recovery is asserted on a fresh
    // one (the real restart model — and the in-instance recovery probe
    // is memoized after its first successful pass, so a same-instance
    // dir mutation would test a situation that cannot occur)
    def restarted(dir: String) = new StreamingQuota(spark, dir,
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 2)

    // crash point A: live dir renamed aside, compacted dir not yet in
    // place — only ".state.old" exists
    val (dirA, qa) = mkQuota()
    qa.admit(batch(1L -> "a", 2L -> "a"))
    Files.move(Paths.get(dirA), Paths.get(dirA).resolveSibling(".state.old"))
    assert(ids(restarted(dirA).admit(batch(3L -> "a"))).isEmpty,
      "budget must survive a crash after the aside-rename")

    // crash point B: compacted dir fully written, live dir gone — only
    // ".state.next" exists
    val (dirB, qb) = mkQuota()
    qb.admit(batch(1L -> "a", 2L -> "a"))
    Files.move(Paths.get(dirB), Paths.get(dirB).resolveSibling(".state.next"))
    assert(ids(restarted(dirB).admit(batch(3L -> "a"))).isEmpty,
      "budget must survive a crash before the into-place rename")

    // the same two crash points under the store's other users
    val tA = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val tA2 = tA.replace("home tonight", "home forever")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def dbatch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "domain")
    def drows(df: org.apache.spark.sql.DataFrame) =
      df.select("domain", "n_docs", "n_admitted", "admitted_id_sum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Seq(".old", ".next").foreach { sibling =>
      // near-dup: the index survives, so a near-copy of an indexed doc still drops
      val ndir = Files.createTempDirectory("graft-snd-crash").toString + "/index"
      assert(ids(new StreamingNearDup(spark, ndir, minSim = 0.5)
        .processBatch(docs(1L -> tA), batchId = 0L)) == Set(1L))
      Files.move(Paths.get(ndir), Paths.get(ndir).resolveSibling(".index" + sibling))
      // a swap's next sibling is one committed write, which leaves
      // _SUCCESS; this dir's dynamic partition overwrites left none, and
      // a parked old sibling keeps it that way
      if (sibling == ".next")
        Files.write(Paths.get(ndir).resolveSibling(".index.next").resolve("_SUCCESS"),
          Array.emptyByteArray)
      assert(ids(new StreamingNearDup(spark, ndir, minSim = 0.5)
        .processBatch(docs(2L -> tA2), batchId = 1L)).isEmpty,
        s"near-dup index must survive a crash that left only $sibling")

      // domain quota: the per-domain budgets survive
      val ddir = Files.createTempDirectory("graft-sdq-crash").toString + "/state"
      val dq = new StreamingDomainQuota(spark, ddir)
      dq.admit(dbatch(1L -> "a", 2L -> "a", 3L -> "b"))
      val before = drows(dq.state().get)
      Files.move(Paths.get(ddir), Paths.get(ddir).resolveSibling(".state" + sibling))
      val after = new StreamingDomainQuota(spark, ddir).state()
      assert(after.map(drows).contains(before),
        s"domain budgets must survive a crash that left only $sibling")
    }
  }

  test("steady calls run a fixed Spark job count; StreamingQuota.admit infers no schema per batch") {
    // jobs per call, attributed by job group (QueryTrace). Every state
    // read carries a known schema: no footer-inference job per batch.
    val trace = graft.tools.QueryTrace.attach(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-sjobs").toString
    val quota = new StreamingQuota(spark, dir + "/quota",
      keyCol = "source", orderCol = "doc_id", tieCol = "doc_id", budget = 3)
    val nd = new StreamingNearDup(spark, dir + "/index", minSim = 0.5)
    val dq = new StreamingDomainQuota(spark, dir + "/domain")
    val mq = new StreamingMixtureQuota(spark, dir + "/mixture", Map("d0" -> 6000, "d1" -> 4000),
      stratumCol = "domain")
    val cdc = new StreamingCdc(spark, dir + "/cdc", Seq("k"), Seq("seq"))
    val prof = new StreamingProfile(spark, dir + "/profile")
    def text(b: Int, j: Int): String = (0 until 20).map(w => s"b${b}j${j}w$w").mkString(" ")
    def step(b: Int, tag: String): Unit = {
      val docs = (0 until 4).map(j => (b * 10L + j, text(b, j), s"d${j % 2}")).toDF("doc_id", "text", "domain")
      trace.traced(s"quota$tag")(quota.admit(docs.withColumnRenamed("domain", "source"), b.toLong))
      trace.traced(s"neardup$tag")(nd.processBatch(docs, b.toLong))
      trace.traced(s"domain$tag")(dq.admit(docs, b.toLong))
      trace.traced(s"mixture$tag")(mq.admit(docs, b.toLong))
      val changes = (0 until 4).map(j => (j.toLong, b.toLong, "U", text(b, j))).toDF("k", "seq", "op", "v")
      trace.traced(s"cdc$tag")(cdc.applyBatch(changes))
      trace.traced(s"profile$tag")(prof.applyBatch(docs.withColumnRenamed("domain", "slice"), b.toLong))
    }
    try {
      (0 until 3).foreach(b => step(b, "-warm"))
      (3 until 6).foreach(b => step(b, s"-$b"))
      val n = trace.drain()
      def perCall(op: String) = (3 until 6).map(b => n.get(s"$op-$b").fold(0)(_.jobs)).toSet
      // measured; StreamingQuota.admit ran 7 while it read its state
      // schemaless, StreamingCdc.applyBatch 4 and StreamingProfile.applyBatch
      // 16 while they re-inferred their state schema on every read;
      // near-dup ran 10 while it deduplicated its anti-join keys, and the
      // domain and mixture quotas 17 and 14 while they pinned the state
      // and the admitted rows apart from the verdicts and took their
      // totals from three and two aggregates
      assert(perCall("quota") == Set(6), s"StreamingQuota.admit jobs: ${perCall("quota")}")
      assert(perCall("neardup") == Set(9), s"StreamingNearDup.processBatch jobs: ${perCall("neardup")}")
      assert(perCall("domain") == Set(11), s"StreamingDomainQuota.admit jobs: ${perCall("domain")}")
      assert(perCall("mixture") == Set(10), s"StreamingMixtureQuota.admit jobs: ${perCall("mixture")}")
      assert(perCall("cdc") == Set(3), s"StreamingCdc.applyBatch jobs: ${perCall("cdc")}")
      assert(perCall("profile") == Set(14), s"StreamingProfile.applyBatch jobs: ${perCall("profile")}")
    } finally trace.close()
  }

  test("the state-store protocol lives only in the store, not in its users") {
    val protocol = Seq("partitionOverwriteMode", "GenerationSwap.", "migrateLegacyLayout",
      "spark.read.parquet")
    val offenders = for {
      op <- Seq("StreamingQuota", "StreamingNearDup", "StreamingDomainQuota", "StreamingMixtureQuota",
        "StreamingCdc", "StreamingProfile")
      text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"src/main/scala/graft/streaming/$op.scala"))
      p <- protocol if text.contains(p)
    } yield s"$op.scala: $p"
    assert(offenders.isEmpty,
      s"state-store protocol outside BatchPartitionedStore and GenerationDir: ${offenders.mkString(", ")}")
  }
}

/** Executor-visible probe for the near-dup single-evaluation row
  * (closures capture statics, never the suite). */
object NearDupEvalProbe {
  val computes = new java.util.concurrent.atomic.AtomicLong(0)
}
