package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.core.Message

/** BulkRead / BulkReadWithDeduplication, parity with
  * `subscriber.BulkRead` (reference: message/subscriber/read.go:10-53):
  * drain up to `limit` messages from a topic's replay view, optionally
  * dropping repeated UUIDs. The channel+timeout mechanics of the
  * reference collapse to a bounded batch read here — the limit is the
  * contract, the timeout was Go-channel plumbing.
  */
object BulkRead {
  def apply(sub: Subscriber, topic: String, limit: Int,
      dedup: Boolean = false): Seq[Message] = {
    val df = sub.subscribeBatch(topic)
    val bounded = (if (dedup) df.dropDuplicates("uuid") else df).limit(limit)
    bounded.collect().toSeq.map(r => Message(
      r.getAs[String]("uuid"), r.getAs[Map[String, String]]("metadata"),
      r.getAs[Array[Byte]]("payload"), r.getAs[java.sql.Timestamp]("ts")))
  }
}

/** Retrying publisher, parity with the internal retrying publisher
  * (reference: internal/publisher/retry.go:17-37): bounded attempts
  * with doubling backoff. Wraps any transport and forwards every form,
  * the routed epoch write included — retry is shape-transparent, so
  * the router sink keeps the inner transport's one routed pass. */
class RetryingPublisher(inner: Publisher, maxRetries: Int = 5,
    initialBackoffMs: Long = 10, sleep: Long => Unit = Thread.sleep)
  extends Publisher {

  private def withRetry[A](body: => A): A = {
    var attempt = 0
    var backoff = initialBackoffMs
    while (true) {
      try return body
      catch {
        case NonFatal(e) if attempt < maxRetries =>
          attempt += 1; sleep(backoff); backoff *= 2
      }
    }
    sys.error("unreachable")
  }

  override def publish(topic: String, msgs: Seq[Message]): Unit =
    withRetry(inner.publish(topic, msgs))
  override def publishBatch(topic: String, df: DataFrame): Unit =
    withRetry(inner.publishBatch(topic, df))
  // forward the epoch forms: the trait defaults would drop writerId
  // or re-split the frame per topic — a retry after a PARTIAL write
  // would then append the successful prefix twice. Retrying the inner
  // epoch write keeps the retry idempotent, which is the entire point
  // of both this wrapper and the epoch API.
  override def publishEpoch(topic: String, df: DataFrame,
      writerId: String): Unit =
    withRetry(inner.publishEpoch(topic, df, writerId))
  override def publishRoutedEpoch(df: DataFrame, topicCol: String,
      writerId: String): Unit =
    withRetry(inner.publishRoutedEpoch(df, topicCol, writerId))
  override def close(): Unit = inner.close()
}
