package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Message
import graft.functions.{Hashes, TextFunctions}
import graft.router.{Middlewares, Router}
import graft.sources.MemoryPubSub
import graft.streaming.{CurationStages, StreamingDedup, StreamingDomainQuota, StreamingNearDup}

/** Seeded training-data corpus with planted truth. Kinds, per 100 docs:
  * 8 `exact` copies and 8 `near` copies (two words edited) of a unique
  * doc from an earlier batch; 5 `short` docs under the token floor; 5
  * `boiler` repetitive boilerplate under the quality floor; the rest
  * `unique`.
  * About three unique docs in eight carry an email, IPv4 or phone
  * number, and copies keep it. Domains are Zipf-skewed so the domain
  * quota binds. */
final class CorpusGen(seed: Long) {
  import CorpusGen._
  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 29)
  private val vocab = Array.fill(4000) {
    val n = 3 + rnd.nextInt(6)
    new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
  }
  private val domainW = (1 to Domains).map(r => 1.0 / r).scanLeft(0.0)(_ + _).tail
  private var nextId = 0L
  private var batchNo = 0
  private val pool = mutable.ArrayBuffer.empty[Doc] // earlier unique docs

  val docs = mutable.ArrayBuffer.empty[Doc]
  val piiOf = scala.collection.concurrent.TrieMap.empty[Long, String]

  private def word(): String = vocab(rnd.nextInt(vocab.length))
  private def domain(): String = {
    val u = rnd.nextDouble() * domainW.last
    s"d${domainW.indexWhere(_ >= u)}.example"
  }
  private def uniqueText(): (String, String) = {
    val (lang, markers) = Langs(rnd.nextInt(Langs.size))
    val n = 30 + rnd.nextInt(50)
    val ws = Array.fill(n)(word())
    markers.foreach(m => ws(rnd.nextInt(n)) = m)
    Stop.foreach(s => if (rnd.nextInt(2) == 0) ws(rnd.nextInt(n)) = s)
    val pii = rnd.nextInt(8) match {
      case 0 => s"${word()}${rnd.nextInt(1000)}@${word()}.example"
      case 1 => s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
      case 2 => f"555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
      case _ => ""
    }
    if (pii.nonEmpty) ws(rnd.nextInt(n)) = pii
    (ws.mkString(" "), pii)
  }

  /** The kinds of one batch of `n` docs in a seeded order. Every batch
    * has the same mix, so batches do the same amount of work whatever
    * the seed; the first has no earlier docs to copy. */
  private def kinds(n: Int, copies: Boolean): Array[String] = {
    val k = Array.fill(n)("unique")
    val planted = Seq("exact" -> 8, "near" -> 8, "short" -> 5, "boiler" -> 5)
      .filter(p => copies || (p._1 != "exact" && p._1 != "near"))
      .flatMap { case (kind, per100) => Seq.fill(n * per100 / 100)(kind) }
    planted.zipWithIndex.foreach { case (kind, i) => k(i) = kind }
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = k(i); k(i) = k(j); k(j) = t
    }
    k
  }

  def batch(n: Int): Seq[Message] = {
    batchNo += 1
    val early = pool.toIndexedSeq
    val out = kinds(n, early.nonEmpty).toSeq.map { kind =>
      nextId += 1
      val d = kind match {
        case "exact" =>
          val twin = early(rnd.nextInt(early.size))
          Doc(nextId, batchNo, "exact", twin.id, twin.pii, domain(), twin.text)
        case "near" =>
          val twin = early(rnd.nextInt(early.size))
          val ws = twin.text.split(" ")
          (0 until 2).foreach(_ => ws(rnd.nextInt(ws.length)) = word())
          // the copy keeps its twin's PII unless an edit replaced it
          val pii = if (ws.contains(twin.pii)) twin.pii else ""
          Doc(nextId, batchNo, "near", twin.id, pii, domain(), ws.mkString(" "))
        case "short" =>
          Doc(nextId, batchNo, "short", 0, "", domain(),
            Array.fill(1 + rnd.nextInt(3))(word()).mkString(" "))
        case "boiler" =>
          // three random words keep each boilerplate doc distinct: an
          // identical copy would be a real duplicate, dropped by dedup
          val t = (Seq("click here to subscribe now !!!", s"ref ${word()} ${word()} ${word()}") ++
            Seq.fill(6)("click here to subscribe now !!!")).mkString(" ")
          Doc(nextId, batchNo, "boiler", 0, "", domain(), t)
        case _ =>
          val (t, pii) = uniqueText()
          Doc(nextId, batchNo, "unique", 0, pii, domain(), t)
      }
      docs += d
      if (d.pii.nonEmpty) piiOf(d.id) = d.pii
      Message(d.id.toString, Map("domain" -> d.domain),
        d.text.getBytes("UTF-8"), new Timestamp(BaseTs + d.id * 1000))
    }
    pool ++= docs.iterator.filter(d => d.batch == batchNo && d.kind == "unique")
    out
  }
}

object CorpusGen {
  final case class Doc(id: Long, batch: Int, kind: String, twin: Long, pii: String,
      domain: String, text: String)
  val Domains = 40
  val BaseTs = 1704067200000L // 2024-01-01
  val Stop = Seq("the", "a", "of", "and", "to")
  val Langs: Seq[(String, Seq[String])] = TextFunctions.DefaultLangMarkers
}

object CurateWorkload {
  val DocsPerBatch = 100
  /** Timed micro-batches: one per `BatchNominalS` seconds of `--seconds`,
    * at least `MinBatches`. What a batch costs depends on its index (every
    * batch adds to the dedup state, the near-dup index and the quota
    * state, and the JIT keeps compiling), so a fixed count keeps the timed
    * batches the same ones whatever their speed. */
  val MinBatches = 3
  val BatchNominalS = 4.0
  /** Batches pushed after set-up and before the timed ones: the first
    * micro-batches of a fresh JVM cost up to twice the CPU of later ones
    * while Spark's code paths are compiled, and vary most between runs. */
  val WarmupBatches = 3
  val ConsumerTriggerMs = 100L
  val MinTokens = 5
  val QualityFloor = 0.5
  val KeptTopics: Seq[String] =
    (CorpusGen.Langs.map(_._1) :+ "und").map(l => s"kept_$l")
  /** One document's fate as the consumer saw it. */
  final case class Outcome(id: Long, topic: String, piiClean: Boolean,
      nearDropped: Boolean, admitted: Boolean, batch: Long)
}

/** MemoryPubSub → Router(redactPii, StreamingDedup, minTokens,
  * qualityRoute) → kept_* / rejected, then the benchmark's consumer:
  * StreamingNearDup.processBatch and StreamingDomainQuota.admit on the
  * kept documents. */
final class CuratePipeline(ctx: Ctx, root: String, pii: Long => Option[String]) {
  import CurateWorkload._
  private val spark = ctx.spark
  val ps = new MemoryPubSub(spark)
  (Seq("docs", "rejected") ++ KeptTopics).foreach(ps.subscribeInitialize)
  val router = new Router(spark, Some(s"$root/ckpt/router"))
    .addHandler("curate", "docs", ps, "rejected", ps, Middlewares.passthrough,
      stages = Seq(CurationStages.redactPii,
        StreamingDedup.stage("30 days", Hashes.md5Long(col("payload"))),
        CurationStages.minTokens(MinTokens),
        CurationStages.qualityRoute(CorpusGen.Stop, QualityFloor, CorpusGen.Langs)))
  val nd = new StreamingNearDup(spark, s"$root/neardup")
  val dq = new StreamingDomainQuota(spark, s"$root/quota")
  val outcomes = new ConcurrentLinkedQueue[Outcome]()
  val nearMs = new ConcurrentLinkedQueue[Double]()
  val quotaMs = new ConcurrentLinkedQueue[Double]()
  val publishMs = new ConcurrentLinkedQueue[Double]()
  val offered = new ConcurrentLinkedQueue[(Long, Seq[(Long, String)])]()
  @volatile var consumerParent = 0L
  private var consumer: StreamingQuery = null

  def start(): Unit = {
    router.run()
    val all = (KeptTopics :+ "rejected").map(t => ps.subscribe(t)
      .select(lit(t).as("topic"), col("uuid").cast("long").as("doc_id"),
        col("payload").cast("string").as("text"),
        element_at(col("metadata"), lit("domain")).as("domain")))
      .reduce(_.unionByName(_))
    // a short fixed trigger: the router's routed publish appends to the
    // kept_* topics one after another, and an as-fast-as-possible
    // consumer would often split one pushed batch over two micro-batches
    consumer = all.writeStream.queryName("bench-consumer")
      .trigger(Trigger.ProcessingTime(ConsumerTriggerMs))
      .option("checkpointLocation", s"$root/ckpt/consumer")
      .foreachBatch((b: DataFrame, batchId: Long) => consume(b, batchId))
      .start()
  }

  private def consume(b: DataFrame, batchId: Long): Unit = {
    val rows = b.collect()
    val kept = b.filter(col("topic") =!= "rejected").select("doc_id", "text", "domain")
    val keptIds = rows.filter(_.getString(0) != "rejected").map(_.getLong(1))
    val (survivors, admitted) =
      if (keptIds.isEmpty) (Set.empty[Long], Set.empty[Long])
      else {
        val n0 = Clock.nowMs
        val pinned = ctx.traced("StreamingNearDup.processBatch", "streaming",
          consumerParent)(_ => nd.processBatch(kept, batchId))
        val surv = pinned.select("doc_id", "domain").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq
        val n1 = Clock.nowMs
        val adm = ctx.traced("StreamingDomainQuota.admit", "streaming",
          consumerParent)(_ => dq.admit(pinned, batchId))
          .select("doc_id").collect().map(_.getLong(0)).toSet
        nearMs.add(n1 - n0)
        quotaMs.add(Clock.nowMs - n1)
        offered.add(batchId -> surv)
        (surv.map(_._1).toSet, adm)
      }
    rows.foreach { r =>
      val id = r.getLong(1)
      val topic = r.getString(0)
      val clean = pii(id).forall(p => !r.getString(2).contains(p))
      outcomes.add(Outcome(id, topic, clean,
        topic != "rejected" && !survivors.contains(id), admitted.contains(id), batchId))
    }
  }

  /** Push one batch and block until the handler and the consumer have
    * both finished with it (closed loop). */
  def push(msgs: Seq[Message], parent: Long): Unit = {
    val p0 = Clock.nowMs
    ctx.traced("MemoryPubSub.publish", "sources", parent)(_ => ps.publish("docs", msgs))
    publishMs.add(Clock.nowMs - p0)
    router.processAllAvailable()
    consumer.processAllAvailable()
  }

  def dirMb(name: String): Double = {
    val p = java.nio.file.Paths.get(root, name)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }

  def close(): Unit = {
    if (consumer != null) consumer.stop()
    router.close()
  }
}

/** `curate`: closed-loop streaming ingest of a seeded corpus, one
  * micro-batch in flight at a time. */
final class CurateWorkload extends Workload {
  import CurateWorkload._

  def run(ctx: Ctx, mem: Mem, checks: Checks): Map[String, Any] = {
    val root = ctx.tracer.nextId()
    val gen = new CorpusGen(ctx.seed)
    val pipe = ctx.traced("setup", "bench", root) { sp =>
      val p = new CuratePipeline(ctx, ctx.dir("pipeline"), id => gen.piiOf.get(id))
      p.consumerParent = sp
      p.start()
      p
    }
    val setup = ctx.setup
    val warm0 = Clock.nowMs
    ctx.traced("warmup", "bench", root) { w =>
      pipe.consumerParent = w
      (1 to ctx.warmups(WarmupBatches)).foreach(_ => pipe.push(gen.batch(DocsPerBatch), w))
    }
    val warmupS = (Clock.nowMs - warm0) / 1000
    mem.checkpoint()

    val batchMs = mutable.ArrayBuffer.empty[Double]
    val batchCpuMs = mutable.ArrayBuffer.empty[Double]
    val batchJitMs = mutable.ArrayBuffer.empty[Double]
    val batchGcMs = mutable.ArrayBuffer.empty[Double]
    Seq(pipe.publishMs, pipe.nearMs, pipe.quotaMs).foreach(_.clear())
    val start = Clock.nowMs
    var docs = 0L
    ctx.traced("batches", "bench", root) { phase =>
      pipe.consumerParent = phase
      (1 to ctx.timedOps(BatchNominalS, MinBatches)).foreach { _ =>
        val msgs = gen.batch(DocsPerBatch)
        val b0 = Clock.nowMs
        val (c0, j0, g0) = (Cpu.nowMs, Cpu.jitMs, Cpu.gcMs)
        ctx.traced("batch", "bench", phase)(b => pipe.push(msgs, b))
        batchJitMs += Cpu.jitMs - j0
        batchGcMs += Cpu.gcMs - g0
        batchMs += Clock.nowMs - b0
        batchCpuMs += Cpu.nowMs - c0
        docs += msgs.size
      }
    }
    val windowEnd = Clock.nowMs
    mem.checkpoint()
    val stateMb = Map("neardup" -> pipe.dirMb("neardup"), "quota" -> pipe.dirMb("quota"))
    pipe.close()
    Map("setup" -> setup, "warmup_s" -> warmupS, "batch_ms" -> batchMs.toSeq,
      "cpu_ms" -> batchCpuMs.toSeq,
      "jit_ms" -> batchJitMs.toSeq, "gc_ms" -> batchGcMs.toSeq, "ops" -> docs, "docs_per_batch" -> DocsPerBatch,
      "neardup_ms" -> pipe.nearMs.asScala.toSeq, "quota_ms" -> pipe.quotaMs.asScala.toSeq,
      "publish_ms" -> pipe.publishMs.asScala.toSeq,
      "neardup_index_mb" -> stateMb("neardup"), "quota_state_mb" -> stateMb("quota"),
      "truth" -> gen.docs.map(d => Seq(d.id, d.batch, d.kind, d.twin, d.pii.nonEmpty, d.domain)),
      "outcomes" -> pipe.outcomes.asScala.map(o =>
        Seq(o.id, o.topic, o.piiClean, o.nearDropped, o.admitted, o.batch)),
      "offered" -> pipe.offered.asScala.map { case (b, ds) =>
        Seq(b, ds.map { case (id, d) => Seq(id, d) }) },
      "window" -> Map("start" -> start, "end" -> windowEnd))
  }
}
