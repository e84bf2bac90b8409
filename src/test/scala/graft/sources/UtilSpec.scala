package graft.sources

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{CaptureLogger, Message}

class UtilSpec extends SparkSpec {

  private def msgs(n: Int) = (0 until n).map(i =>
    Message(s"u$i", Map.empty, s"p$i".getBytes, new Timestamp(1700000000000L + i)))

  test("BulkRead drains up to limit; dedup variant drops repeated uuids (read.go:10-53)") {
    val ps = new MemoryPubSub(spark)
    ps.publish("br", msgs(20))
    ps.publish("br", msgs(5)) // duplicate uuids
    assert(BulkRead(ps, "br", limit = 7).length == 7)
    val all = BulkRead(ps, "br", limit = 100)
    assert(all.length == 25)
    val deduped = BulkRead(ps, "br", limit = 100, dedup = true)
    assert(deduped.length == 20)
    assert(deduped.map(_.uuid).distinct.length == 20)
  }

  test("RetryingPublisher retries with doubling backoff then succeeds (retry.go:17-37)") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val backoffs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flaky = new Publisher {
      override def publish(topic: String, m: Seq[Message]): Unit =
        if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")
      override def publishBatch(topic: String, df: org.apache.spark.sql.DataFrame): Unit = ()
    }
    val p = new RetryingPublisher(flaky, maxRetries = 5, initialBackoffMs = 10,
      sleep = ms => { backoffs += ms; () })
    p.publish("t", msgs(1))
    assert(attempts.get() == 3)
    assert(backoffs.toSeq == Seq(10L, 20L))
  }

  test("RetryingPublisher retries the routed epoch write") {
    // the wrapper forwards publishRoutedEpoch: the trait default would
    // re-split a routed inner transport's one pass into per-topic passes
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val flakyRouted = new Publisher {
      override def publish(topic: String, m: Seq[Message]): Unit = ()
      override def publishBatch(topic: String, df: org.apache.spark.sql.DataFrame): Unit = ()
      override def publishRoutedEpoch(df: org.apache.spark.sql.DataFrame,
          topicCol: String, writerId: String): Unit =
        if (attempts.incrementAndGet() < 3) throw new RuntimeException("transient")
    }
    val p = new RetryingPublisher(flakyRouted, maxRetries = 5,
      initialBackoffMs = 1, sleep = _ => ())
    p.publishRoutedEpoch(null, "t", "w")
    assert(attempts.get() == 3, "routed publishes must retry like the rest")
  }

  test("RetryingPublisher gives up after maxRetries") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val dead = new Publisher {
      override def publish(topic: String, m: Seq[Message]): Unit =
        { attempts.incrementAndGet(); throw new RuntimeException("down") }
      override def publishBatch(topic: String, df: org.apache.spark.sql.DataFrame): Unit = ()
    }
    val p = new RetryingPublisher(dead, maxRetries = 2, initialBackoffMs = 1, sleep = _ => ())
    intercept[RuntimeException](p.publish("t", msgs(1)))
    assert(attempts.get() == 3)
  }

  test("subscribeInitialize makes an empty file topic readable") {
    val root = java.nio.file.Files.createTempDirectory("graft-init-").toString
    val ps = new FilePubSub(spark, root)
    ps.subscribeInitialize("empty_topic")
    assert(ps.subscribeBatch("empty_topic").count() == 0)
  }
}

class LoggingSpec extends AnyFunSuite {
  test("capture logger records entries with bound fields (log.go capture parity)") {
    val log = new CaptureLogger
    val bound = log.withFields(Map("handler" -> "h1"))
    bound.info("started", Map("topic" -> "t"))
    bound.error("failed", new RuntimeException("x"))
    assert(log.has("info", "started"))
    assert(log.has("error", "failed"))
    assert(log.entries.head.fields == Map("handler" -> "h1", "topic" -> "t"))
    assert(log.entries(1).err.exists(_.getMessage == "x"))
  }
}
