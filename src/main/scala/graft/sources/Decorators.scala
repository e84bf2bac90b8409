package graft.sources

import org.apache.spark.sql.DataFrame

import graft.core.Message

/** Publisher/Subscriber decorators, parity with
  * `MessageTransformPublisherDecorator` /
  * `MessageTransformSubscriberDecorator` (reference:
  * message/decorator.go:10-34, message/router.go:64-68). The reference
  * transforms one message at a time; the engine-native unit is the
  * frame, so decorators carry both forms — `perMessage` for the
  * driver-side Seq path and `perFrame` for the distributed path (keep
  * them semantically identical).
  */
object Decorators {

  final class TransformingPublisher(inner: Publisher,
      perMessage: Message => Message,
      perFrame: DataFrame => DataFrame) extends Publisher {
    override def publish(topic: String, msgs: Seq[Message]): Unit =
      inner.publish(topic, msgs.map(perMessage))
    override def publishBatch(topic: String, df: DataFrame): Unit =
      inner.publishBatch(topic, perFrame(df))
    // forward the epoch form too — the trait default drops writerId
    // and calls publishBatch, silently downgrading a decorated
    // transport's exactly-once sink path to at-least-once
    override def publishEpoch(topic: String, df: DataFrame,
        writerId: String): Unit =
      inner.publishEpoch(topic, perFrame(df), writerId)
    override def close(): Unit = inner.close()
  }

  class TransformingSubscriber(inner: Subscriber,
      perFrame: DataFrame => DataFrame)
    extends Subscriber with SubscribeInitializer {
    override def subscribe(topic: String): DataFrame = perFrame(inner.subscribe(topic))
    // forward the rate-limited form too — the trait default would
    // silently drop maxPerTrigger (Throttle) on decorated transports
    override def subscribe(topic: String, maxPerTrigger: Option[Long]): DataFrame =
      perFrame(inner.subscribe(topic, maxPerTrigger))
    override def subscribeBatch(topic: String): DataFrame = perFrame(inner.subscribeBatch(topic))
    // forward topic init — a decorated FilePubSub/SqlPubSub otherwise
    // loses its DDL hook and the first subscribe dies topic-not-found
    override def subscribeInitialize(topic: String): Unit = inner match {
      case si: SubscribeInitializer => si.subscribeInitialize(topic)
      case _ => ()
    }
  }

  /** The routed epoch write keeps the per-topic default: an arbitrary
    * `perFrame` (written against the 4-column envelope) may drop the
    * routing column, so it sees clean envelope frames through
    * `publishEpoch`, at the cost of one filtered pass per destination
    * topic. */
  def publisher(inner: Publisher, perMessage: Message => Message,
      perFrame: DataFrame => DataFrame): Publisher =
    new TransformingPublisher(inner, perMessage, perFrame)

  /** Decorate a subscriber, preserving the inner transport's
    * [[AckableSubscriber]] capability — without the delegation a
    * decorated SQL subscriber would never advance its durable
    * consumer-group offsets (no loss, but every fresh instance
    * redelivers everything ever consumed). */
  def subscriber(inner: Subscriber, perFrame: DataFrame => DataFrame): Subscriber =
    inner match {
      case a: AckableSubscriber =>
        new TransformingSubscriber(inner, perFrame) with AckableSubscriber {
          override def ack(topic: String, upTo: Long): Unit = a.ack(topic, upTo)
        }
      case _ => new TransformingSubscriber(inner, perFrame)
    }
}
