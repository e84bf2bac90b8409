package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Message
import graft.sources.MemoryPubSub

/** StreamingCdc: cross-batch latest-wins, out-of-order no-ops,
  * tombstones that block resurrection, replay idempotence, crash
  * recovery of the generation swap, and the foreachBatch integration.
  */
class StreamingCdcSpec extends SparkSpec {

  import spark.implicits._

  private def cdc(dir: String) =
    new StreamingCdc(spark, dir + "/state", Seq("k"), Seq("seq"), "op")

  private def batch(rows: (Long, Long, String, String)*) =
    rows.toDF("k", "seq", "op", "v")

  private def snap(c: StreamingCdc): Map[Long, (Long, String)] =
    c.snapshot.map(_.select("k", "seq", "v").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap).getOrElse(Map.empty)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-cdc-").toString

  test("upserts, deletes, and re-inserts across micro-batches") {
    val c = cdc(tmp())
    c.applyBatch(batch((1L, 10L, "U", "a1"), (2L, 11L, "U", "b1")))
    assert(snap(c) == Map(1L -> (10L, "a1"), 2L -> (11L, "b1")))
    c.applyBatch(batch((1L, 20L, "U", "a2"), (2L, 21L, "D", "x"),
      (3L, 22L, "U", "c1")))
    assert(snap(c) == Map(1L -> (20L, "a2"), 3L -> (22L, "c1")))
    // re-insert after delete
    c.applyBatch(batch((2L, 30L, "U", "b2")))
    assert(snap(c) == Map(1L -> (20L, "a2"), 2L -> (30L, "b2"),
      3L -> (22L, "c1")))
  }

  test("a stale update arriving batches later is a no-op") {
    val c = cdc(tmp())
    c.applyBatch(batch((1L, 50L, "U", "new")))
    c.applyBatch(batch((1L, 40L, "U", "old")))
    assert(snap(c) == Map(1L -> (50L, "new")))
  }

  test("tombstone blocks resurrection by a late pre-delete update") {
    val c = cdc(tmp())
    c.applyBatch(batch((1L, 10L, "U", "v1")))
    c.applyBatch(batch((1L, 30L, "D", "x")))
    // seq 20 < the tombstone's 30: must NOT resurrect
    c.applyBatch(batch((1L, 20L, "U", "late")))
    assert(snap(c) == Map.empty)
    // the tombstone row itself is retained in full state
    assert(c.state.get.filter(col("op") === "D").count() == 1)
  }

  test("within-batch compaction picks the latest change per key") {
    val c = cdc(tmp())
    c.applyBatch(batch((1L, 3L, "U", "mid"), (1L, 5L, "D", "x"),
      (1L, 1L, "U", "first"), (2L, 2L, "U", "b")))
    assert(snap(c) == Map(2L -> (2L, "b")))
  }

  test("replaying a batch is idempotent (at-least-once safety)") {
    val c = cdc(tmp())
    val b1 = batch((1L, 10L, "U", "a"), (2L, 12L, "U", "b"))
    val b2 = batch((1L, 20L, "U", "a2"), (2L, 21L, "D", "x"))
    c.applyBatch(b1); c.applyBatch(b2)
    val before = snap(c)
    c.applyBatch(b2) // replay
    assert(snap(c) == before)
    c.applyBatch(b1) // much older replay
    assert(snap(c) == before)
  }

  test("crash between write and swap: the complete .next generation is adopted") {
    val dir = tmp()
    val c = cdc(dir)
    c.applyBatch(batch((1L, 10L, "U", "a")))
    // simulate: crash after .next fully written, before rename
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    c.state.get.withColumn("v", lit("gen2"))
      .write.parquet(dir + "/.state.next")
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/state"), true)
    assert(snap(cdc(dir)) == Map(1L -> (10L, "gen2")))
  }

  test("empty batches leave state untouched (including before first data)") {
    val c = cdc(tmp())
    c.applyBatch(batch())
    assert(c.snapshot.isEmpty)
    c.applyBatch(batch((1L, 1L, "U", "a")))
    c.applyBatch(batch())
    assert(snap(c) == Map(1L -> (1L, "a")))
  }

  test("foreachBatch integration: changelog stream materializes the snapshot") {
    val src = new MemoryPubSub(spark)
    val dir = tmp()
    val c = cdc(dir)
    val q = src.subscribe("cdc").writeStream
      .option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        c.applyBatch(b.select(
          col("uuid").cast("long").as("k"),
          col("metadata")("seq").cast("long").as("seq"),
          col("metadata")("op").as("op"),
          col("payload").cast("string").as("v")))
        ()
      }.start()
    def pub(rows: (Long, Long, String, String)*): Unit = {
      src.publish("cdc", rows.map { case (k, seq, op, v) =>
        Message(k.toString, Map("seq" -> seq.toString, "op" -> op),
          v.getBytes("UTF-8"), new Timestamp(1700000000000L + seq))
      }.toSeq)
      q.processAllAvailable()
    }
    try {
      pub((1L, 10L, "U", "one"), (2L, 11L, "U", "two"))
      pub((1L, 20L, "U", "one-v2"), (2L, 21L, "D", ""))
      pub((3L, 5L, "U", "three"), (2L, 15L, "U", "stale"))
      assert(snap(c) == Map(1L -> (20L, "one-v2"), 3L -> (5L, "three")))
    } finally q.stop()
  }
}
