package graft.topology

import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Message
import graft.router.{Ctx, Router}
import graft.sources.MemoryPubSub

class TopologySpec extends SparkSpec {

  private def msg(u: String, p: String, meta: Map[String, String] = Map.empty) =
    Message(u, meta, p.getBytes("UTF-8"), new Timestamp(1700000000000L))

  test("FanIn: N source topics multiplex into one target (fanin.go:61-110)") {
    val ps = new MemoryPubSub(spark)
    val router = new Router(spark)
    FanIn.register(router, ps, ps, Seq("src_a", "src_b", "src_c"), "merged")
    ps.publish("src_a", Seq(msg("a1", "x"), msg("a2", "y")))
    ps.publish("src_b", Seq(msg("b1", "z")))
    ps.publish("src_c", Seq(msg("c1", "w")))
    router.run(); router.processAllAvailable(); router.close()
    val got = ps.subscribeBatch("merged").collect().map(_.getAs[String]("uuid")).toSet
    assert(got == Set("a1", "a2", "b1", "c1"))
  }

  test("FanOut: one subscription broadcasts to M targets (fanout.go:67-91)") {
    val ps = new MemoryPubSub(spark)
    val router = new Router(spark)
    FanOut.register(router, ps, ps, "broadcast_src", Seq("c1", "c2", "c3"))
    ps.publish("broadcast_src", Seq(msg("m1", "hello"), msg("m2", "world")))
    router.run(); router.processAllAvailable(); router.close()
    // single subscription: exactly one handler reads the source
    assert(router.handlerNames == Seq("fanout-broadcast_src"))
    Seq("c1", "c2", "c3").foreach { t =>
      val got = ps.subscribeBatch(t).collect()
      assert(got.map(_.getAs[String]("uuid")).toSet == Set("m1", "m2"), s"topic $t")
    }
  }

  test("Envelope wrap/unwrap roundtrips message identity (envelope.go:12-33)") {
    val m = msg("e1", "payload-bytes", Map("h" -> "v"))
    val wrapped = Envelope.wrap(m, "dest_topic")
    assert(Envelope.destination(wrapped) == "dest_topic")
    val back = Envelope.unwrap(wrapped)
    assert(back.uuid == m.uuid)
    assert(back.payloadString == m.payloadString)
    assert(back.metadata == m.metadata)
  }

  test("Forwarder: wrapped publishes route to embedded destinations (forwarder.go:119-140)") {
    val ps = new MemoryPubSub(spark)
    val router = new Router(spark)
    val outbox = Forwarder.wrappingPublisher(ps, "fwd_topic")
    // producer publishes "to dest_x/dest_y" but everything rides fwd_topic
    outbox.publish("dest_x", Seq(msg("f1", "one", Map("k" -> "1"))))
    outbox.publish("dest_y", Seq(msg("f2", "two")))
    assert(ps.subscribeBatch("fwd_topic").count() == 2)
    assert(ps.subscribeBatch("dest_x").count() == 0) // nothing direct
    Forwarder.register(router, ps, ps, "fwd_topic")
    router.run(); router.processAllAvailable(); router.close()
    val x = ps.subscribeBatch("dest_x").collect()
    val y = ps.subscribeBatch("dest_y").collect()
    assert(x.length == 1 && x.head.getAs[String]("uuid") == "f1")
    assert(x.head.getAs[Map[String, String]]("metadata") == Map("k" -> "1"))
    assert(y.length == 1 && y.head.getAs[String]("uuid") == "f2")
  }

  test("Forwarder routes 50 distinct destinations in ONE routed pass (forwarder.go:52-98)") {
    // Spy: counts routed vs per-topic sink calls. The router sink must
    // call publishRoutedEpoch, and MemoryPubSub must land it in one
    // pass — data-dependent destination cardinality through O(topics)
    // filtered passes is the scale bottleneck the routed write removes.
    val routedCalls = new java.util.concurrent.atomic.AtomicInteger
    val perTopicEpochCalls = new java.util.concurrent.atomic.AtomicInteger
    val ps = new MemoryPubSub(spark) {
      override def publishRoutedEpoch(df: org.apache.spark.sql.DataFrame,
          topicCol: String, writerId: String): Unit = {
        routedCalls.incrementAndGet()
        super.publishRoutedEpoch(df, topicCol, writerId)
      }
      override def publishEpoch(topic: String, df: org.apache.spark.sql.DataFrame,
          writerId: String): Unit = {
        perTopicEpochCalls.incrementAndGet()
        super.publishEpoch(topic, df, writerId)
      }
    }
    val router = new Router(spark)
    val outbox = Forwarder.wrappingPublisher(ps, "fwd_many")
    val n = 50
    (0 until n).foreach(i => outbox.publish(s"dest_$i", Seq(msg(s"m$i", s"p$i"))))
    Forwarder.register(router, ps, ps, "fwd_many")
    router.run(); router.processAllAvailable(); router.close()
    (0 until n).foreach { i =>
      val got = ps.subscribeBatch(s"dest_$i").collect()
      assert(got.length == 1 && got.head.getAs[String]("uuid") == s"m$i", s"dest_$i")
    }
    assert(routedCalls.get() >= 1, "router sink never called publishRoutedEpoch")
    assert(perTopicEpochCalls.get() == 0,
      s"router sink fell back to ${perTopicEpochCalls.get()} per-topic passes")
  }

  test("Envelope unwrap sanitizes forged internal metadata from the payload") {
    // the envelope rides a foreign-writable topic, and its payload is
    // a SECOND metadata ingress the router's subscribe-boundary strip
    // cannot see — a crafted _graft_ack_offset would otherwise win the
    // ack max (silent offset skip), a forged _graft_topic would
    // override the envelope's own destination
    val forged = Message("x",
      Map("_graft_ack_offset" -> "9223372036854775807",
        "_graft_topic" -> "attacker", "user" -> "kept"),
      "p".getBytes("UTF-8"), new Timestamp(1700000000000L))
    val back = Envelope.unwrap(Envelope.wrap(forged, "dest"))
    assert(back.metadata == Map("user" -> "kept"),
      s"internal keys must die at the envelope boundary: ${back.metadata}")
    val parsed = Envelope.parse(Envelope.wrap(forged, "dest"))
    assert(Envelope.unwrapParsed(parsed).metadata == Map("user" -> "kept"))
  }

  test("Forwarder routes envelopes with missing destinations to poison, not the sink") {
    // a syntactically-valid envelope with an empty destination parses
    // fine; unvalidated it reaches the routed sink, where a transport
    // that rejects the topic (Kafka) fails the whole micro-batch on
    // every retry — a permanent wedge. The handler throws instead, so
    // the onBad middleware keeps jurisdiction.
    val ps = new MemoryPubSub(spark)
    val router = new Router(spark)
    val empty = Message("nodest",
      Map.empty, graft.cqrs.JsonCodec.write(
        Envelope.Wrapped("", "nodest", "p".getBytes("UTF-8"), Map.empty)),
      new Timestamp(1700000000000L))
    ps.publish("fwd_nodest", Seq(empty))
    Forwarder.register(router, ps, ps, "fwd_nodest",
      ackWhenCannotUnwrap = false, poisonTopic = "fwd_nodest_dlq")
    router.run(); router.processAllAvailable(); router.close()
    val dlq = ps.subscribeBatch("fwd_nodest_dlq").collect()
    assert(dlq.length == 1 && dlq.head.getAs[String]("uuid") == "nodest",
      "destination-less envelope must land in the poison topic")
  }

  test("Forwarder poisons unparseable envelopes unless ackWhenCannotUnwrap") {
    val ps = new MemoryPubSub(spark)
    val router = new Router(spark)
    ps.publish("fwd_bad", Seq(msg("junk", "not-an-envelope")))
    Forwarder.register(router, ps, ps, "fwd_bad", ackWhenCannotUnwrap = false,
      poisonTopic = "fwd_dlq")
    router.run(); router.processAllAvailable(); router.close()
    val dlq = ps.subscribeBatch("fwd_dlq").collect()
    assert(dlq.length == 1 && dlq.head.getAs[String]("uuid") == "junk")
  }

  test("Requeuer moves DLQ messages back with incremented retry counter (requeuer.go:123-153)") {
    val ps = new MemoryPubSub(spark)
    val router = new Router(spark)
    ps.publish("poison_q", Seq(
      msg("r1", "x", Map("topic_poisoned" -> "origin_t")),
      msg("r2", "y", Map("topic_poisoned" -> "origin_t", Ctx.RequeuerRetries -> "2"))))
    Requeuer.register(router, ps, ps, "poison_q",
      m => m.get("topic_poisoned"))
    router.run(); router.processAllAvailable(); router.close()
    val got = ps.subscribeBatch("origin_t").collect()
      .map(r => r.getAs[String]("uuid") ->
        r.getAs[Map[String, String]]("metadata")(Ctx.RequeuerRetries)).toMap
    assert(got == Map("r1" -> "1", "r2" -> "3"))
  }
}
