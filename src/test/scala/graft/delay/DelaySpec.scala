package graft.delay

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions.{col, lit, to_timestamp}

import graft.SparkSpec
import graft.core.Message
import graft.router.Ctx
import graft.sources.MemoryPubSub

class DelaySpec extends SparkSpec {

  private def msg(u: String, meta: Map[String, String] = Map.empty) =
    Message(u, meta, u.getBytes, new Timestamp(1700000000000L))

  test("Delay.message stamps delayed_until/delayed_for (delay.go:56-68)") {
    val d = Delay.forMs(5000, nowMs = 1700000000000L)
    val m = Delay.message(msg("d1"), d)
    assert(m.get(Ctx.DelayedUntil) == Instant.ofEpochMilli(1700000005000L).toString)
    assert(m.get(Ctx.DelayedFor) == "5000ms")
  }

  test("DelayingPublisher refuses undelayed messages unless allowed (publisher.go:59-66)") {
    val ps = new MemoryPubSub(spark)
    val strict = new DelayingPublisher(ps, defaultDelay = None)
    intercept[IllegalArgumentException](strict.publish("t", Seq(msg("x"))))
    val lax = new DelayingPublisher(ps, defaultDelay = None, allowNoDelay = true)
    lax.publish("t", Seq(msg("x")))
    assert(ps.subscribeBatch("t").count() == 1)
    // the default is a generator invoked AT PUBLISH TIME, so the delay
    // is always relative to now, never a decayed construction-time stamp
    var nowMs = 1700000000000L
    val defaulted = new DelayingPublisher(ps, Some(() => Delay.forMs(1000, nowMs)))
    defaulted.publish("t2", Seq(msg("y")))
    nowMs = 1700000600000L // ten minutes later, same publisher
    defaulted.publish("t2", Seq(msg("z")))
    val metas = ps.subscribeBatch("t2").collect()
      .map(r => r.getAs[String]("uuid") -> r.getAs[Map[String, String]]("metadata")).toMap
    assert(metas("y")(Ctx.DelayedUntil) == Instant.ofEpochMilli(1700000001000L).toString)
    assert(metas("z")(Ctx.DelayedUntil) == Instant.ofEpochMilli(1700000601000L).toString)
  }

  test("ready() hides rows until due, passes undelayed rows (delayed-messages.md:9-41)") {
    val ps = new MemoryPubSub(spark)
    val now = Instant.ofEpochMilli(1700000000000L)
    ps.publish("staged", Seq(
      Delay.message(msg("due"), Delay.until(now.minusSeconds(10))),
      Delay.message(msg("future"), Delay.until(now.plusSeconds(3600))),
      msg("undelayed")))
    val asOf = to_timestamp(lit(now.toString))
    val visible = DelayedDelivery.ready(ps.subscribeBatch("staged"), asOf)
      .collect().map(_.getAs[String]("uuid")).toSet
    assert(visible == Set("due", "undelayed"))
  }

  test("ready() survives a malformed delay stamp: the row flows instead of killing the batch") {
    // Under ANSI mode a plain to_timestamp THROWS on garbage, turning
    // one corrupt metadata value into a stream-killing poison pill at
    // the FILTER — before any poison-queue middleware can see it. The
    // malformed row must instead pass through (fail-open to visibility:
    // deliverable now, observable downstream; hiding it forever would
    // be silent loss).
    val ps = new MemoryPubSub(spark)
    val now = Instant.ofEpochMilli(1700000000000L)
    ps.publish("staged_bad", Seq(
      msg("corrupt").withMeta(Ctx.DelayedUntil, "not-a-timestamp"),
      Delay.message(msg("future"), Delay.until(now.plusSeconds(3600))),
      msg("clean")))
    val asOf = to_timestamp(lit(now.toString))
    val visible = DelayedDelivery.ready(ps.subscribeBatch("staged_bad"), asOf)
      .collect().map(_.getAs[String]("uuid")).toSet
    assert(visible == Set("corrupt", "clean"), s"got $visible")
  }

  test("one delay-stamp rule: ready() and Delay.dueMs agree on every stamp shape") {
    // (stamp, held as of 2023): a future instant is held, a stamp
    // Instant.parse rejects is malformed and ready now on every path
    val table = Seq(
      "2999-01-01T00:00:00Z" -> true,
      "2999-01-01T00:00:00.123Z" -> true,
      "2999-01-01T00:00:00.1Z" -> true,
      "2999-01-01T00:00:00+01:00" -> true,
      "2999-01-01T00:00:00" -> false,
      "2999-01-01" -> false,
      "2999-01-01 00:00:00Z" -> false)
    val now = Instant.ofEpochMilli(1700000000000L)
    val ps = new MemoryPubSub(spark)
    ps.publish("stamps", table.zipWithIndex.map { case ((stamp, _), i) =>
      msg(s"m$i").withMeta(Ctx.DelayedUntil, stamp)
    })
    val visible = DelayedDelivery.ready(ps.subscribeBatch("stamps"), to_timestamp(lit(now.toString)))
      .collect().map(_.getAs[String]("uuid")).toSet
    val held = table.map(_._2)
    val dueHeld = table.map { case (stamp, _) => Delay.dueMs(stamp).exists(_ > now.toEpochMilli) }
    val readyHeld = table.indices.map(i => !visible(s"m$i"))
    assert(dueHeld == held, s"dueMs holds: ${table.map(_._1).zip(dueHeld)}")
    assert(readyHeld == held, s"ready() holds: ${table.map(_._1).zip(readyHeld)}")
  }

  test("releaseWhenDue: streaming state holds delayed rows until the watermark passes") {
    import spark.implicits._
    val ps = new MemoryPubSub(spark)
    val t0 = Instant.ofEpochMilli(1700000000000L)
    val src = ps.subscribe("rel_in").as[Message]
    val released = DelayedDelivery.releaseWhenDue(src)
    val q = released.toDF().writeStream
      .format("memory").queryName("rel_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-rel-").toString)
      .start()
    try {
      def out = spark.table("rel_out").collect().map(_.getAs[String]("uuid")).toSet
      // batch 1: one undelayed row, one delayed 60s into the future
      ps.publish("rel_in", Seq(
        Message("now", Map.empty, "x".getBytes, new Timestamp(t0.toEpochMilli)),
        Delay.message(Message("later", Map.empty, "y".getBytes,
          new Timestamp(t0.toEpochMilli)), Delay.until(t0.plusSeconds(60)))))
      q.processAllAvailable()
      assert(out == Set("now"), "delayed row must be held in state")
      // batch 2: event time advances past the due point → watermark moves
      ps.publish("rel_in", Seq(
        Message("adv", Map.empty, "z".getBytes,
          new Timestamp(t0.plusSeconds(120).toEpochMilli))))
      q.processAllAvailable()
      // batch 3: the event-time timer fires against the new watermark
      ps.publish("rel_in", Seq(
        Message("adv2", Map.empty, "w".getBytes,
          new Timestamp(t0.plusSeconds(121).toEpochMilli))))
      q.processAllAvailable()
      assert(out == Set("now", "adv", "adv2", "later"),
        s"delayed row must be released once due; got $out")
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS rel_out"); () }
  }

  test("releaseWhenDue: a same-uuid arrival does not cancel a buffered row's timer") {
    // GroupState resets a key's timeout on EVERY invocation ("the user
    // has to set the timeout duration every time the function is
    // called") — pre-fix, one undelayed replay duplicate arriving for
    // a buffered key cancelled its event-time timer and the delayed
    // row sat in state forever (silent infinite delay)
    import spark.implicits._
    val ps = new MemoryPubSub(spark)
    val t0 = Instant.ofEpochMilli(1700000000000L)
    val released = DelayedDelivery.releaseWhenDue(ps.subscribe("rel2_in").as[Message])
    val q = released.toDF().writeStream
      .format("memory").queryName("rel2_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-rel2-").toString)
      .start()
    try {
      def out = spark.table("rel2_out").collect().map(_.getAs[String]("uuid")).toSeq
      // batch 1: a row delayed 60 s, buffered under uuid "dup"
      ps.publish("rel2_in", Seq(
        Delay.message(Message("dup", Map.empty, "y".getBytes,
          new Timestamp(t0.toEpochMilli)), Delay.until(t0.plusSeconds(60)))))
      q.processAllAvailable()
      assert(out.isEmpty, "delayed row must be held")
      // batch 2: an UNDELAYED arrival for the SAME uuid — the
      // invocation that used to cancel the timer without re-arming it
      // (ts strictly above the batch-1 watermark so the row is not
      // dropped as late, and still far below the buffered row's due)
      ps.publish("rel2_in", Seq(
        Message("dup", Map.empty, "x".getBytes,
          new Timestamp(t0.plusSeconds(1).toEpochMilli))))
      q.processAllAvailable()
      assert(out == Seq("dup"), s"undelayed duplicate passes through: $out")
      // batches 3+4: watermark advances past the due point, timer fires
      ps.publish("rel2_in", Seq(Message("adv", Map.empty, "z".getBytes,
        new Timestamp(t0.plusSeconds(120).toEpochMilli))))
      q.processAllAvailable()
      ps.publish("rel2_in", Seq(Message("adv2", Map.empty, "w".getBytes,
        new Timestamp(t0.plusSeconds(121).toEpochMilli))))
      q.processAllAvailable()
      assert(out.count(_ == "dup") == 2,
        s"buffered delayed row must still release after the duplicate: $out")
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS rel2_out"); () }
  }

  test("drain forwards due rows once, idempotently") {
    val ps = new MemoryPubSub(spark)
    val now = Instant.ofEpochMilli(1700000000000L)
    ps.publish("dstage", Seq(
      Delay.message(msg("a"), Delay.until(now.minusSeconds(1))),
      Delay.message(msg("b"), Delay.until(now.plusSeconds(100)))))
    val asOf = to_timestamp(lit(now.toString))
    DelayedDelivery.drain(ps, ps, "dstage", "dtarget", asOf)
    assert(ps.subscribeBatch("dtarget").collect().map(_.getAs[String]("uuid")).toSet == Set("a"))
    // second drain: nothing new forwarded (anti-join on uuid)
    DelayedDelivery.drain(ps, ps, "dstage", "dtarget", asOf)
    assert(ps.subscribeBatch("dtarget").count() == 1)
    // time passes: b becomes due
    val later = to_timestamp(lit(now.plusSeconds(200).toString))
    DelayedDelivery.drain(ps, ps, "dstage", "dtarget", later)
    assert(ps.subscribeBatch("dtarget").collect().map(_.getAs[String]("uuid")).toSet == Set("a", "b"))
  }
}
