package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Message

/** Exactly-once epoch publishing (SURVEY §7.4 #5 / the reference's
  * ExactlyOnceDelivery capability flag, test_pubsub.go:99-100): a
  * retried micro-batch re-publishes under the SAME writer id and must
  * not duplicate rows.
  */
class ExactlyOnceSpec extends SparkSpec {

  import spark.implicits._

  private def frame(us: String*) =
    us.map(u => Message(u, Map.empty, u.getBytes, new Timestamp(1700000000000L))).toDF()

  test("streaming foreachBatch + publishEpoch: the replayed micro-batch is idempotent end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo-ss-").toString)
    val stream = MemoryStream[Message](spark)
    var lastBatch: Option[(org.apache.spark.sql.DataFrame, Long)] = None
    val q = stream.toDS().writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-eo-ck-").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Message], id: Long) =>
        // the exactly-once sink recipe: batch id IS the writer epoch
        val df = batch.toDF()
        ps.publishEpoch("eo_ss", df, writerId = s"q1-$id")
        lastBatch = Some((df, id))
      }
      .start()
    try {
      stream.addData(Seq(
        Message("s1", Map.empty, "x".getBytes, new Timestamp(1700000000000L)),
        Message("s2", Map.empty, "y".getBytes, new Timestamp(1700000000001L))))
      q.processAllAvailable()
      stream.addData(Seq(
        Message("s3", Map.empty, "z".getBytes, new Timestamp(1700000000002L))))
      q.processAllAvailable()
      assert(ps.subscribeBatch("eo_ss").count() == 3L)
      // a crash after the sink write but before the checkpoint commit
      // re-runs the SAME batch id on restart — replay it verbatim:
      // same writer epoch => overwrite, not append
      val (df, id) = lastBatch.get
      ps.publishEpoch("eo_ss", df, writerId = s"q1-$id")
      val uuids = ps.subscribeBatch("eo_ss").collect().map(_.getAs[String]("uuid"))
      assert(uuids.sorted.toSeq == Seq("s1", "s2", "s3"),
        s"replayed epoch must not duplicate: ${uuids.toSeq}")
    } finally { q.stop(); () }
  }

  test("Trigger.AvailableNow drains the backlog and terminates on its own (batch-catchup mode)") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo-an-").toString)
    ps.publish("an_in", (0 until 7).map(i =>
      Message(s"a$i", Map.empty, s"p$i".getBytes, new Timestamp(1700000000000L + i))))
    val seen = scala.collection.concurrent.TrieMap.empty[String, Boolean]
    val q = ps.subscribe("an_in").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-eo-anck-").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.put(r.getAs[String]("uuid"), true))
      }
      .start()
    // AvailableNow processes what exists, then STOPS — no manual stop()
    assert(q.awaitTermination(60000), "query must terminate by itself")
    assert(seen.keySet == (0 until 7).map(i => s"a$i").toSet,
      s"backlog must drain completely: ${seen.keySet}")
  }

  test("file transport rejects path-escaping and nested topic names loudly") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo-tn-").toString)
    intercept[IllegalArgumentException] {
      ps.publishBatch("../escape", frame("x")) // traversal: would write outside root
    }
    intercept[IllegalArgumentException] {
      ps.subscribeBatch("a/b") // nesting: would bleed into topic "a"'s recursive listing
    }
    ()
  }

  test("file transport rejects path-escaping writer ids loudly (epoch dir traversal)") {
    // writerId names the epoch directory, so the topic rule applies:
    // pre-fix, "w/../../x" escaped the topic dir entirely — the epoch
    // rows AND the _SUCCESS skip-probe landed wherever the traversal
    // pointed, outside the transport's root
    val root = Files.createTempDirectory("graft-eo-wid-").toString
    val ps = new FilePubSub(spark, root)
    intercept[IllegalArgumentException] {
      ps.publishEpoch("t", frame("x"), "w/../../escape")
    }
    intercept[IllegalArgumentException] {
      ps.publishRoutedEpoch(
        frame("x").withColumn("dest",
          org.apache.spark.sql.functions.lit("t")), "dest", "a/b")
    }
    // a legal writerId still round-trips
    ps.publishEpoch("t", frame("ok"), "w-1")
    assert(ps.subscribeBatch("t").count() == 1)
  }

  test("file transport: same-epoch rewrite overwrites, not appends") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo-").toString)
    ps.publishEpoch("eo", frame("a", "b"), writerId = "h1-0")
    ps.publishEpoch("eo", frame("a", "b"), writerId = "h1-0") // the retry
    ps.publishEpoch("eo", frame("c"), writerId = "h1-1")      // next epoch
    val got = ps.subscribeBatch("eo").collect().map(_.getAs[String]("uuid"))
    assert(got.length == 3)
    assert(got.toSet == Set("a", "b", "c"))
  }

  test("file transport: epoch dirs and flat appends coexist for readers") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo2-").toString)
    ps.publish("mix", Seq(Message("flat", Map.empty, "x".getBytes,
      new Timestamp(1700000000000L))))
    ps.publishEpoch("mix", frame("epoch"), writerId = "w-0")
    assert(ps.subscribeBatch("mix").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("flat", "epoch"))
  }

  test("file transport: routed epoch writes once per topic, idempotent on retry") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo3-").toString)
    def routedFrame = Seq(
      ("a", "t_one"), ("b", "t_one"), ("c", "t_two"))
      .map { case (u, t) => (u, Map.empty[String, String], u.getBytes,
        new Timestamp(1700000000000L), t) }
      .toDF("uuid", "metadata", "payload", "ts", "_topic")
    ps.publishRoutedEpoch(routedFrame, "_topic", writerId = "h-0")
    ps.publishRoutedEpoch(routedFrame, "_topic", writerId = "h-0") // the retry
    assert(ps.subscribeBatch("t_one").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("a", "b"))
    assert(ps.subscribeBatch("t_two").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("c"))
    // next epoch appends alongside
    ps.publishRoutedEpoch(routedFrame.filter($"uuid" === "a"), "_topic", "h-1")
    assert(ps.subscribeBatch("t_one").count() == 3)
  }

  test("file transport: routed epoch quarantines an invalid topic value instead of poisoning the batch") {
    val rootDir = Files.createTempDirectory("graft-eo-q-").toString
    val ps = new FilePubSub(spark, rootDir)
    val routed = Seq(("ok1", "t_good"), ("bad1", "t/nested"), ("bad2", ".hidden"))
      .map { case (u, t) => (u, Map.empty[String, String], u.getBytes,
        new Timestamp(1700000000000L), t) }
      .toDF("uuid", "metadata", "payload", "ts", "_topic")
    // a throw here would fail the epoch partway through its renames and
    // poison every retry — the valid topic must deliver regardless
    ps.publishRoutedEpoch(routed, "_topic", writerId = "q-0")
    assert(ps.subscribeBatch("t_good").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("ok1"))
    // quarantined rows are preserved on disk, not lost
    val quarantined = spark.read.schema(graft.core.Message.schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$rootDir/.quarantine")
      .collect().map(_.getAs[String]("uuid")).toSet
    assert(quarantined == Set("bad1", "bad2"), s"got $quarantined")
    // retry stays idempotent for both destinations
    ps.publishRoutedEpoch(routed, "_topic", writerId = "q-0")
    assert(ps.subscribeBatch("t_good").count() == 1)
  }

  test("file transport: compaction consolidates epoch files, preserves every row") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-cmp-").toString)
    (0 until 8).foreach(i => ps.publishEpoch("cmp", frame(s"e$i"), writerId = s"w-$i"))
    ps.publish("cmp", Seq(Message("flat", Map.empty, "x".getBytes,
      new Timestamp(1700000000000L))))
    val before = ps.subscribeBatch("cmp").collect().map(_.getAs[String]("uuid")).toSet
    assert(before.size == 9)
    ps.compact("cmp")
    val after = ps.subscribeBatch("cmp")
    assert(after.collect().map(_.getAs[String]("uuid")).toSet == before)
    assert(after.inputFiles.length == 1,
      s"expected one consolidated file, got ${after.inputFiles.length}")
    // compaction is idempotent and appends still work after it
    ps.publishEpoch("cmp", frame("post"), writerId = "w-post")
    assert(ps.subscribeBatch("cmp").count() == 10)
  }

  test("file transport: compaction retention drops expired rows, keeps fresh/null-ts rows, replay still skips") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-ret-").toString)
    ps.publishEpoch("ret", frame("old1", "old2"), writerId = "w-old") // ts = 2023
    ps.publish("ret", Seq(
      Message("fresh", Map.empty, "x".getBytes,
        new Timestamp(System.currentTimeMillis())),
      // a foreign writer's unstamped row must never silently expire
      Message("nots", Map.empty, "y".getBytes, null)))
    assert(ps.subscribeBatch("ret").count() == 4)
    ps.compact("ret", retentionMs = 3600000L) // 1h horizon
    val got = ps.subscribeBatch("ret").collect().map(_.getAs[String]("uuid")).toSet
    assert(got == Set("fresh", "nots"), s"retention kept wrong rows: $got")
    // the expired epoch stays in the manifest: a checkpoint replay from
    // inside the redelivery horizon skips instead of resurrecting rows
    // that retention deliberately dropped
    ps.publishEpoch("ret", frame("old1", "old2"), writerId = "w-old")
    assert(ps.subscribeBatch("ret").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("fresh", "nots"), "replayed expired epoch resurrected dropped rows")
    // retention off (the default) keeps everything on a further compact
    ps.compact("ret")
    assert(ps.subscribeBatch("ret").count() == 2)
  }

  test("file transport: a checkpoint-replayed epoch after compaction does not duplicate") {
    // the compacted file already holds epoch w-1's rows; a replay of
    // w-1 from inside the redelivery horizon (driver crashed before
    // the checkpoint commit, restarts after the housekeeping compact)
    // must SKIP — the folded epoch names ride the hidden manifest.
    // Without it the replay recreated epoch_w-1 next to the
    // consolidated copy: duplicated rows, broken exactly-once.
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-cmpr-").toString)
    ps.publishEpoch("cmpr", frame("a", "b"), writerId = "w-1")
    ps.publishEpoch("cmpr", frame("c"), writerId = "w-2")
    ps.compact("cmpr")
    ps.publishEpoch("cmpr", frame("a", "b"), writerId = "w-1") // the late replay
    val got = ps.subscribeBatch("cmpr").collect().map(_.getAs[String]("uuid"))
    assert(got.length == 3 && got.toSet == Set("a", "b", "c"),
      s"replayed epoch after compact duplicated rows: ${got.toSeq.sorted}")
    // a SECOND compact folds the manifest forward (cumulative), and a
    // replay after it still skips
    ps.publishEpoch("cmpr", frame("d"), writerId = "w-3")
    ps.compact("cmpr")
    ps.publishEpoch("cmpr", frame("c"), writerId = "w-2")
    ps.publishEpoch("cmpr", frame("d"), writerId = "w-3")
    assert(ps.subscribeBatch("cmpr").count() == 4,
      "manifest must accumulate across compactions")
    // a fresh epoch still lands
    ps.publishEpoch("cmpr", frame("e"), writerId = "w-4")
    assert(ps.subscribeBatch("cmpr").count() == 5)
  }

  test("file transport: a checkpoint-replayed ROUTED epoch after compaction does not duplicate") {
    // publishRoutedEpoch is the router's MAIN FilePubSub path (both
    // Router sinks call it, never publishEpoch) — pre-fix it never
    // consulted the folded-epoch manifest, so the exactly-once-
    // across-compaction contract only covered the side path: a replay
    // of a folded routed epoch re-appended every row beside its
    // consolidated copy
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-cmprr-").toString)
    def routed = Seq(("a", "rt_one"), ("b", "rt_one"), ("c", "rt_two"))
      .map { case (u, t) => (u, Map.empty[String, String], u.getBytes,
        new Timestamp(1700000000000L), t) }
      .toDF("uuid", "metadata", "payload", "ts", "_topic")
    ps.publishRoutedEpoch(routed, "_topic", writerId = "rw-0")
    ps.compact("rt_one")
    ps.compact("rt_two")
    ps.publishRoutedEpoch(routed, "_topic", writerId = "rw-0") // late replay
    assert(ps.subscribeBatch("rt_one").collect().map(_.getAs[String]("uuid")).toSet
      == Set("a", "b"))
    assert(ps.subscribeBatch("rt_one").count() == 2,
      "replayed routed epoch after compact must not duplicate")
    assert(ps.subscribeBatch("rt_two").count() == 1)
    // a fresh routed epoch still lands
    ps.publishRoutedEpoch(routed.filter($"uuid" === "a"), "_topic", "rw-1")
    assert(ps.subscribeBatch("rt_one").count() == 3)
  }

  test("file transport: retried epoch with a complete _SUCCESS is skipped, partial is rewritten") {
    val root = Files.createTempDirectory("graft-eps-").toString
    val ps = new FilePubSub(spark, root)
    ps.publishEpoch("eps", frame("a"), writerId = "w-1")
    ps.publishEpoch("eps", frame("a"), writerId = "w-1") // retry: skip, no rewrite
    assert(ps.subscribeBatch("eps").count() == 1)
    // simulate a crashed partial write: epoch dir exists, no _SUCCESS
    val partial = java.nio.file.Paths.get(root, "eps", "epoch_w-9")
    java.nio.file.Files.createDirectories(partial)
    ps.publishEpoch("eps", frame("z"), writerId = "w-9") // must complete it
    assert(ps.subscribeBatch("eps").collect().map(_.getAs[String]("uuid")).toSet
      == Set("a", "z"), "partial epoch dir must be overwritten, not skipped")
  }

  test("file transport: routed epoch preserves a '+' in the topic name") {
    // Spark's partition-path escaping leaves '+' literal; URLDecoder
    // would have turned it into a space and routed rows to topic "a b"
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-eo4-").toString)
    val routed = Seq(("p1", "a+b"), ("p2", "sp ace"), ("p3", "pct%25"))
      .map { case (u, t) => (u, Map.empty[String, String], u.getBytes,
        new Timestamp(1700000000000L), t) }
      .toDF("uuid", "metadata", "payload", "ts", "_topic")
    ps.publishRoutedEpoch(routed, "_topic", writerId = "w-0")
    assert(ps.subscribeBatch("a+b").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("p1"))
    assert(ps.subscribeBatch("sp ace").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("p2"))
    assert(ps.subscribeBatch("pct%25").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("p3"))
  }

  test("file transport: compact self-heals from a crash between renames") {
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-cmp2-").toString
    val ps = new FilePubSub(spark, root)
    (0 until 4).foreach(i => ps.publishEpoch("heal", frame(s"e$i"), writerId = s"w-$i"))
    val expected = ps.subscribeBatch("heal").collect().map(_.getAs[String]("uuid")).toSet
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // crash window A: after rename(live -> trash), before rename(staging -> live):
    // staging holds the complete compacted copy, live is missing
    val live = new HPath(s"$root/heal")
    val staging = new HPath(s"$root/.compact_heal")
    val trash = new HPath(s"$root/.trash_heal")
    ps.subscribeBatch("heal").coalesce(1).write.mode("overwrite").parquet(staging.toString)
    assert(fs.rename(live, trash))
    ps.compact("heal") // must finish the swap forward, then recompact
    assert(ps.subscribeBatch("heal").collect().map(_.getAs[String]("uuid")).toSet == expected)
    assert(!fs.exists(trash) && !fs.exists(staging), "no crash debris left behind")

    // crash window B: live missing, only trash (original) remains
    assert(fs.rename(live, trash))
    ps.compact("heal") // must roll back from trash
    assert(ps.subscribeBatch("heal").collect().map(_.getAs[String]("uuid")).toSet == expected)
    assert(!fs.exists(trash) && !fs.exists(staging))
  }

  test("memory transport: duplicate writer id is dropped") {
    val ps = new MemoryPubSub(spark)
    ps.publishEpoch("meo", frame("a"), writerId = "h-0")
    ps.publishEpoch("meo", frame("a"), writerId = "h-0")
    ps.publishEpoch("meo", frame("b"), writerId = "h-1")
    assert(ps.subscribeBatch("meo").collect().map(_.getAs[String]("uuid")).toSet ==
      Set("a", "b"))
  }

  test("memory transport: epoch-dedup set is bounded (FIFO eviction)") {
    val ps = new MemoryPubSub(spark, maxTrackedEpochs = 2)
    ps.publishEpoch("mb", frame("a"), writerId = "w-0")
    ps.publishEpoch("mb", frame("b"), writerId = "w-1")
    ps.publishEpoch("mb", frame("c"), writerId = "w-2") // evicts w-0
    // the RECENT epoch still dedupes — the retry window that matters
    ps.publishEpoch("mb", frame("c"), writerId = "w-2")
    assert(ps.subscribeBatch("mb").count() == 3)
    // an epoch past the window no longer dedupes (documented downgrade
    // to at-least-once outside the retention horizon)
    ps.publishEpoch("mb", frame("a"), writerId = "w-0")
    assert(ps.subscribeBatch("mb").count() == 4)
  }
}
