package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Message
import graft.router.{Ctx => RCtx, Middlewares, Router}
import graft.sources.FilePubSub

/** Seeded message generator for `route`. Each message carries its own
  * planted truth in metadata: its sequence number, when it was due, and
  * whether the handler sends it to `audit` (~10%) or fails it (~1%). */
final class RouteGen(seed: Long) {
  import RouteGen.Sent
  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  private var seq = 0L

  val sent = mutable.ArrayBuffer.empty[Sent]

  def batch(n: Int, dueMs: Double): Seq[Message] = (0 until n).map { _ =>
    seq += 1
    val fail = rnd.nextInt(100) == 0
    val audit = !fail && rnd.nextInt(10) == 0
    val len = 32 + rnd.nextInt(480)
    val payload = Array.fill(len)(('a' + rnd.nextInt(26)).toByte)
    val extra = (0 until rnd.nextInt(4)).map(i => s"k$i" -> rnd.nextLong().toHexString)
    val meta = Map("bench_seq" -> seq.toString, "bench_due" -> f"$dueMs%.3f",
      "bench_dest" -> (if (audit) "audit" else "out"),
      "bench_fail" -> (if (fail) "1" else "0")) ++ extra
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    val uuid = s"m$seed-$seq"
    sent += Sent(uuid, if (fail) "poison" else if (audit) "audit" else "out", crc.getValue, dueMs)
    Message(uuid, meta, payload, new Timestamp(dueMs.toLong))
  }
}

object RouteGen {
  final case class Sent(uuid: String, topic: String, crc: Long, dueMs: Double)
}

object RouteWorkload {
  /** The handler: forward to `out`, or to `audit` by per-row topic
    * override; planted failures throw (retried, then poisoned). */
  val handler: Middlewares.Handler = m =>
    if (m.get("bench_fail") == "1") throw new IllegalStateException("planted failure")
    else if (m.get("bench_dest") == "audit") Seq(m.withMeta(RCtx.TopicOverride, "audit"))
    else Seq(m)

  val Topics = Seq("out", "audit", "poison")

  /** Open-loop publish rate: about a quarter of the drain capacity
    * measured on 4 cores (8-13k msg/s). Each publishBatch costs 0.2-0.3 s,
    * so one call per 500 ms leaves the generator on schedule, and the
    * latency stays flat over the run at this rate. */
  val OpenRatePerS = 2500
  val TickMs = 500.0
  val DrainBacklog = 20000
  val DrainFiles = 4
  val WarmupMsgs = 200

  final case class Arrival(uuid: String, topic: String, cid: String, crc: Long, atMs: Double)
}

/** FilePubSub → Router(recoverer, correlationId, poisonQueue, retry) →
  * FilePubSub, with the benchmark's own consumer query tailing the
  * three output topics. */
final class RoutePipeline(spark: SparkSession, root: String) {
  import RouteWorkload._

  val ps = new FilePubSub(spark, s"$root/topics")
  (Seq("in") ++ Topics).foreach(ps.subscribeInitialize)
  val router = new Router(spark, Some(s"$root/ckpt/router"))
    .addHandler("route", "in", ps, "out", ps, handler,
      middlewares = Seq(Middlewares.recoverer, Middlewares.correlationId(),
        Middlewares.poisonQueue("poison"), Middlewares.retry(2)))
  val arrivals = new ConcurrentLinkedQueue[Arrival]()
  val received = new AtomicLong(0)
  private var consumer: StreamingQuery = null

  def start(): Unit = {
    router.run()
    val tail = Topics.map(t => ps.subscribe(t).select(lit(t).as("topic"), col("uuid"),
      element_at(col("metadata"), lit(RCtx.CorrelationId)).as("cid"),
      crc32(col("payload")).as("crc"))).reduce(_.unionByName(_))
    val sink = arrivals
    val count = received
    consumer = tail.writeStream.queryName("bench-consumer")
      .option("checkpointLocation", s"$root/ckpt/consumer")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        val at = Clock.nowMs
        rows.foreach(r => sink.add(Arrival(r.getString(1), r.getString(0),
          r.getString(2), r.getLong(3), at)))
        count.addAndGet(rows.length)
        ()
      }.start()
  }

  def publish(msgs: Seq[Message]): Unit =
    ps.publishBatch("in", spark.createDataset(msgs)(Encoders.product[Message]).toDF())

  /** Wait until `n` messages in total have reached the consumer. */
  def await(n: Long, timeoutMs: Double = 60000): Boolean = {
    val until = Clock.nowMs + timeoutMs
    while (received.get < n && Clock.nowMs < until) {
      consumer.exception.foreach(e => throw e)
      router.running.values.flatMap(_.exception).foreach(e => throw e)
      Thread.sleep(2)
    }
    received.get >= n
  }

  def topicFiles(): Long = {
    val p = java.nio.file.Paths.get(root, "topics")
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.count(f => f.toString.endsWith(".parquet")).toLong
    finally s.close()
  }

  def close(): Unit = {
    if (consumer != null) consumer.stop()
    router.close()
  }
}

/** `route`: the durable-transport product path. Phase 1 publishes on a
  * fixed schedule (open loop) and times each message from when it was
  * due; phase 2 drains a pre-published backlog (closed). */
final class RouteWorkload extends Workload {
  import RouteWorkload._

  def run(ctx: Ctx, mem: Mem, checks: Checks): Map[String, Any] = {
    val root = ctx.tracer.nextId()
    val gen = new RouteGen(ctx.seed)
    val pipe = ctx.traced("setup", "bench", root) { _ =>
      val p = new RoutePipeline(ctx.spark, ctx.dir("pipeline"))
      p.start()
      p
    }
    val setup = ctx.setup
    val warm0 = Clock.nowMs
    ctx.traced("warmup", "bench", root) { _ =>
      pipe.publish(gen.batch(WarmupMsgs, Clock.nowMs))
      if (!pipe.await(gen.sent.size)) checks.fail("warm-up batch never arrived")
    }
    val warmupS = (Clock.nowMs - warm0) / 1000
    mem.checkpoint()

    // phase 1: open loop at a fixed rate; latency from the due time
    val perTick = (OpenRatePerS * TickMs / 1000).toInt
    val openMs = ctx.seconds * 1000 * 0.6
    val steadyFromMs = openMs * 0.15
    val late = mutable.ArrayBuffer.empty[Double]
    val publishMs = mutable.ArrayBuffer.empty[Double]
    val steady = mutable.Set.empty[String]
    val openStart = Clock.nowMs
    ctx.traced("open", "bench", root) { phase =>
      var tick = 0
      while (tick * TickMs < openMs) {
        val due = openStart + tick * TickMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        late += Clock.nowMs - due
        val msgs = gen.batch(perTick, due)
        if (tick * TickMs >= steadyFromMs) steady ++= msgs.map(_.uuid)
        val p0 = Clock.nowMs
        ctx.traced("publishBatch", "sources", phase)(_ => pipe.publish(msgs))
        publishMs += Clock.nowMs - p0
        tick += 1
      }
      if (!pipe.await(gen.sent.size)) checks.fail("open-loop messages still missing after 60 s")
    }
    mem.checkpoint()

    // phase 2: stop the handler, pre-publish a backlog, restart, drain
    val drainRates = mutable.ArrayBuffer.empty[Double]
    val drainCpuMs = mutable.ArrayBuffer.empty[Double] // per message
    val endBy = openStart + ctx.seconds * 1000
    ctx.traced("drain", "bench", root) { phase =>
      while (drainRates.isEmpty || Clock.nowMs < endBy) {
        pipe.router.stopHandler("route")
        val before = gen.sent.size
        (0 until DrainFiles).foreach(_ =>
          pipe.publish(gen.batch(DrainBacklog / DrainFiles, Clock.nowMs)))
        val d0 = Clock.nowMs
        val c0 = Cpu.nowMs
        ctx.traced("drainBacklog", "router", phase) { _ =>
          pipe.router.run()
          if (!pipe.await(gen.sent.size)) checks.fail("drain backlog still missing after 60 s")
        }
        drainRates += (gen.sent.size - before) / ((Clock.nowMs - d0) / 1000.0)
        drainCpuMs += (Cpu.nowMs - c0) / (gen.sent.size - before)
      }
    }
    val windowEnd = Clock.nowMs
    mem.checkpoint()
    val files = pipe.topicFiles()
    pipe.close()

    // raw delivery facts; the output checks run after the JVM exits
    val latency = mutable.ArrayBuffer.empty[Double]
    val firstAt = mutable.Map.empty[String, Double]
    pipe.arrivals.asScala.foreach(a => if (!firstAt.contains(a.uuid)) firstAt(a.uuid) = a.atMs)
    gen.sent.foreach { s =>
      if (steady.contains(s.uuid)) firstAt.get(s.uuid).foreach(at => latency += at - s.dueMs)
    }
    Map("setup" -> setup, "warmup_s" -> warmupS, "latency_ms" -> latency.toSeq, "late_ms" -> late.toSeq,
      "publish_ms" -> publishMs.toSeq, "drain_msgs_per_s" -> drainRates.toSeq, "cpu_ms" -> drainCpuMs.toSeq,
      "open_rate_per_s" -> OpenRatePerS,
      "topic_files" -> files, "ops" -> (gen.sent.size - WarmupMsgs),
      "sent" -> gen.sent.map(s => Seq(s.uuid, s.topic, s.crc)),
      "arrived" -> pipe.arrivals.asScala.map(a =>
        Seq(a.uuid, a.topic, a.crc, a.cid != null && a.cid.nonEmpty)),
      "window" -> Map("start" -> openStart, "end" -> windowEnd))
  }
}
