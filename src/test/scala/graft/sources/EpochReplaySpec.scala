package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, get_json_object}

import graft.SparkSpec
import graft.core.Message
import graft.delay.{Delay, DelayingPublisher}
import graft.topology.Forwarder

/** Replays of both epoch entry points (`publishEpoch`,
  * `publishRoutedEpoch`) land once: through the file transport's one
  * epoch writer, as seen by a live subscriber, and through every
  * publisher wrapper.
  */
class EpochReplaySpec extends SparkSpec {

  import spark.implicits._

  private def routed(pairs: (String, String)*): DataFrame =
    pairs.map { case (u, t) => (u, Map.empty[String, String], u.getBytes("UTF-8"),
      new Timestamp(1700000000000L), t) }
      .toDF("uuid", "metadata", "payload", "ts", "_topic")

  private def frame(us: String*): DataFrame =
    us.map(u => Message(u, Map.empty, u.getBytes("UTF-8"),
      new Timestamp(1700000000000L))).toDF()

  test("a live file subscriber sees each row once when a routed epoch is replayed") {
    val ps = new FilePubSub(spark, Files.createTempDirectory("graft-er-live-").toString)
    ps.subscribeInitialize("lv")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = ps.subscribe("lv").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-er-ck-").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("uuid").as[String].collect().foreach(seen.add)
      }
      .start()
    try {
      val epoch = routed("a" -> "lv", "b" -> "lv", "c" -> "lv_other")
      ps.publishRoutedEpoch(epoch, "_topic", writerId = "lv-0")
      q.processAllAvailable()
      ps.publishRoutedEpoch(epoch, "_topic", writerId = "lv-0") // the replay
      q.processAllAvailable()
      val got = seen.toArray(Array.empty[String]).toSeq.sorted
      assert(got == Seq("a", "b"), s"the replayed epoch was re-delivered: $got")
    } finally { q.stop(); () }
  }

  test("every publisher wrapper lands a replayed epoch once, on both entry points") {
    // (wrapper, where its rows land as (destination, uuid))
    def direct(ps: FilePubSub): Seq[(String, String)] =
      Seq("x", "y").flatMap(t => ps.subscribeBatch(t).select("uuid").as[String]
        .collect().map(t -> _))
    def forwarded(ps: FilePubSub): Seq[(String, String)] =
      ps.subscribeBatch("fwd").select(
        get_json_object(col("payload").cast("string"), "$.destination_topic"),
        col("uuid")).as[(String, String)].collect().toSeq
    val wrappers: Seq[(String, FilePubSub => Publisher, FilePubSub => Seq[(String, String)])] =
      Seq(
        ("RetryingPublisher", new RetryingPublisher(_), direct),
        ("Decorators.publisher", Decorators.publisher(_, identity, identity), direct),
        ("Forwarder.wrappingPublisher", Forwarder.wrappingPublisher(_, "fwd"), forwarded),
        ("DelayingPublisher",
          new DelayingPublisher(_, Some(() => Delay.forMs(60000))), direct))
    wrappers.foreach { case (name, wrap, read) =>
      val ps = new FilePubSub(spark, Files.createTempDirectory("graft-er-wrap-").toString)
      Seq("x", "y", "fwd").foreach(ps.subscribeInitialize)
      val pub = wrap(ps)
      pub.publishEpoch("x", frame("e1"), writerId = "e-0")
      pub.publishEpoch("x", frame("e1"), writerId = "e-0") // the replay
      val epoch = routed("r1" -> "x", "r2" -> "y")
      pub.publishRoutedEpoch(epoch, "_topic", writerId = "r-0")
      pub.publishRoutedEpoch(epoch, "_topic", writerId = "r-0") // the replay
      val got = read(ps).sorted
      assert(got == Seq("x" -> "e1", "x" -> "r1", "y" -> "r2"),
        s"$name: a replayed epoch must land once per topic, got $got")
    }
  }
}
