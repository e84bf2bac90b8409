package graft.topology

import graft.core.Message
import graft.cqrs.JsonCodec
import graft.router.{Ctx, Middlewares, Router, Stages}
import graft.sources.{Publisher, Subscriber}

/** Fan-in: N source topics → 1 target topic, parity with
  * `fanin.FanIn` (reference: components/fanin/fanin.go:15-32,61-110 —
  * one passthrough handler per source topic; we register exactly
  * that). */
object FanIn {
  def register(router: Router, sub: Subscriber, pub: Publisher,
      sourceTopics: Seq[String], targetTopic: String): Router = {
    sourceTopics.foreach { st =>
      router.addHandler(s"fanin-$st-to-$targetTopic", st, sub, targetTopic, pub,
        Middlewares.passthrough)
    }
    router
  }
}

/** Fan-out: ONE subscription → M topics (message multiplication),
  * parity with `gochannel.FanOut` (reference:
  * pubsub/gochannel/fanout.go:23-33,67-91). The reference broadcasts
  * one external subscription to M in-process consumers; here one
  * handler reads the source once and emits one copy per target, routed
  * per-row — a single streaming read no matter how many consumers,
  * which is the property that matters when the source is 100 TB. */
object FanOut {
  def register(router: Router, sub: Subscriber, pub: Publisher,
      sourceTopic: String, targetTopics: Seq[String]): Router = {
    require(targetTopics.nonEmpty,
      s"FanOut on '$sourceTopic' needs at least one target topic")
    val targets = targetTopics.toVector
    router.addHandler(s"fanout-$sourceTopic", sourceTopic, sub,
      targets.head, pub,
      m => targets.map(t => m.withMeta(Ctx.TopicOverride, t)))
    router
  }
}

/** Envelope format, parity with `forwarder.envelope`
  * (reference: components/forwarder/envelope.go:12-33): the wrapped
  * message carries its destination topic inside the payload so it can
  * cross a transport that doesn't route per-row. */
object Envelope {
  final case class Wrapped(destination_topic: String, uuid: String,
      payload: Array[Byte], metadata: Map[String, String])

  def wrap(m: Message, destinationTopic: String): Message =
    m.copy(payload = JsonCodec.write(Wrapped(destinationTopic, m.uuid, m.payload, m.metadata)),
      metadata = Map.empty)

  /** Inner metadata is SANITIZED on unwrap: the envelope rides a
    * foreign-writable topic, and its payload is a second metadata
    * ingress the router's subscribe-boundary strip cannot see — a
    * crafted envelope carrying `_graft_ack_offset` would otherwise
    * survive into the ack max (offset skip = silent loss), and a
    * forged `_graft_topic` would override the envelope's own
    * destination. Same rule as every transport boundary: internal
    * state comes from THIS engine only. */
  def unwrap(m: Message): Message = {
    val w = JsonCodec.read(m.payload, classOf[Wrapped])
    Message(w.uuid, Ctx.sanitizeMeta(safeMeta(w.metadata)), w.payload, m.ts)
  }

  private def safeMeta(m: Map[String, String]): Map[String, String] =
    Option(m).getOrElse(Map.empty)

  def destination(m: Message): String =
    JsonCodec.read(m.payload, classOf[Wrapped]).destination_topic

  /** Parse once; pair with [[unwrapParsed]] when both the destination
    * and the inner message are needed (one deserialization, not two). */
  final case class Parsed(destinationTopic: String, w: Wrapped, ts: java.sql.Timestamp)

  def parse(m: Message): Parsed = {
    val w = JsonCodec.read(m.payload, classOf[Wrapped])
    Parsed(w.destination_topic, w, m.ts)
  }

  def unwrapParsed(p: Parsed): Message =
    Message(p.w.uuid, Ctx.sanitizeMeta(safeMeta(p.w.metadata)), p.w.payload, p.ts)
}

/** Forwarder, parity with `forwarder.Forwarder`
  * (reference: components/forwarder/forwarder.go:52-98,119-140): the
  * outbox pattern — producers publish envelope-wrapped messages to one
  * forwarder topic on transport A; the forwarder consumes it,
  * unwraps, and re-publishes each message to its embedded destination
  * on transport B. Per-row destination routing is native here (the
  * sink's topic-override path). `ackWhenCannotUnwrap`
  * (forwarder.go:30-36): malformed envelopes are dropped (acked) when
  * true, routed to a poison topic when false.
  */
object Forwarder {
  /** Decorator producing envelope-wrapped publishes, parity with
    * forwarder's wrapped publisher (envelope.go + publisher decorator
    * usage in forwarder_test.go). */
  def wrappingPublisher(inner: Publisher, forwarderTopic: String): Publisher =
    new Publisher {
      override def publish(topic: String, msgs: Seq[Message]): Unit =
        inner.publish(forwarderTopic, msgs.map(Envelope.wrap(_, topic)))
      override def publishBatch(topic: String, df: org.apache.spark.sql.DataFrame): Unit =
        inner.publishBatch(forwarderTopic, wrap(df, topic))
      // forward the epoch form — the trait default drops writerId and
      // downgrades the router's exactly-once sink to at-least-once
      // (Decorators.TransformingPublisher names this bug class). The
      // ORIGINAL topic is folded into the forwarded writerId
      // (length-prefixed, injective): the per-topic routed default calls
      // publishEpoch once per destination with the SAME writerId, and
      // funneling them into one forwarder topic unchanged would dedup
      // the second destination's publish as a replay.
      override def publishEpoch(topic: String, df: org.apache.spark.sql.DataFrame,
          writerId: String): Unit =
        inner.publishEpoch(forwarderTopic, wrap(df, topic), s"${topic.length}.$topic-$writerId")
      override def close(): Unit = inner.close()
    }

  /** Distributed envelope wrap: `to_json` over the envelope struct. */
  private def wrap(df: org.apache.spark.sql.DataFrame, topic: String) = {
    import org.apache.spark.sql.functions._
    df.select(
      col("uuid"),
      map().cast("map<string,string>").as("metadata"),
      to_json(struct(
        lit(topic).as("destination_topic"), col("uuid"),
        col("payload"), col("metadata"))).cast("binary").as("payload"),
      col("ts"))
  }

  def register(router: Router, sub: Subscriber, pub: Publisher,
      forwarderTopic: String, ackWhenCannotUnwrap: Boolean = false,
      poisonTopic: String = "forwarder_poison"): Router = {
    val handler: Middlewares.Handler = { m =>
      // one parse: destination() + unwrap() would each deserialize the
      // same payload — double Jackson work on the forwarder hot path
      val w = Envelope.parse(m)
      // destination is DATA from a foreign-writable topic: an empty or
      // null value parses fine but then reaches the routed sink, where
      // a transport that rejects it (Kafka) fails the WHOLE micro-batch
      // on every retry — a permanent wedge. Throwing here keeps it in
      // the onBad middleware's jurisdiction (poison or drop), the
      // fail-open path the forwarder contract specifies.
      if (w.destinationTopic == null || w.destinationTopic.isEmpty)
        throw new IllegalArgumentException(
          s"forwarder envelope ${m.uuid}: missing destination_topic")
      Seq(Envelope.unwrapParsed(w).withMeta(Ctx.TopicOverride, w.destinationTopic))
    }
    val onBad: Middlewares.Middleware =
      if (ackWhenCannotUnwrap) Middlewares.ignoreErrors((_: Throwable) => true)
      else Middlewares.poisonQueue(poisonTopic)
    router.addHandler(s"forwarder-$forwarderTopic", forwarderTopic, sub,
      forwarderTopic + "_unroutable", pub, handler, middlewares = Seq(onBad))
    router
  }
}

/** Requeuer, parity with `requeuer.Requeuer`
  * (reference: components/requeuer/requeuer.go:14,28-54,123-153): moves
  * messages topic→topic (DLQ → origin is the canonical loop),
  * incrementing the retry-count metadata. The reference's fixed
  * `Delay` sleep maps to event-time gating: pair the DLQ topic with
  * [[graft.delay.DelayedDelivery]] so requeued messages become visible
  * only when due. */
object Requeuer {
  def register(router: Router, sub: Subscriber, pub: Publisher,
      subscribeTopic: String,
      generatePublishTopic: Message => String,
      stages: Seq[Stages.Stage] = Nil): Router = {
    val gen = generatePublishTopic
    router.addHandler(s"requeuer-$subscribeTopic", subscribeTopic, sub,
      subscribeTopic + "_unroutable", pub,
      { m =>
        // foreign writers can stamp anything — a throwing parse would
        // wedge the requeue loop on one corrupt row (no poison layer
        // here); malformed counts restart at 0
        val n = m.get(Ctx.RequeuerRetries).toIntOption.getOrElse(0)
        Seq(m.withMeta(Ctx.RequeuerRetries, (n + 1).toString)
          .withMeta(Ctx.TopicOverride, gen(m)))
      },
      stages = stages)
    router
  }
}
