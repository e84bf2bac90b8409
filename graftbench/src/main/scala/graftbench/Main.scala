package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one measured pass. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    startMs: Double, startCpuMs: Double, startJitMs: Double, work: String,
    tracer: Tracer, input: String, short: Boolean) {
  /** How many operations a workload times: one per `nominalS` seconds of
    * the pass's duration, at least `min` (halved on the half-length passes
    * of a traced run). The count depends on the requested duration only,
    * never on how fast the operations run, so two versions of the program
    * are compared on the same operations. */
  def timedOps(nominalS: Double, min: Int): Int =
    math.max(if (short) math.max(1, min / 2) else min, math.round(seconds / nominalS).toInt)

  /** Untimed warm-up operations: `n` in a fresh JVM, one on the later
    * passes of a traced run, whose JVM an earlier pass has warmed. */
  def warmups(n: Int): Int = if (short) 1 else n

  /** Set-up cost from the start of the process (or of the pass's
    * session) until the workload's pipeline is ready, before its warm-up:
    * `cpu_s` is the JVM's CPU time (`Cpu`), `jit_cpu_s` the JIT
    * compiler's share of it, `wall_s` the elapsed time. */
  def setup: Map[String, Double] = Map(
    "cpu_s" -> (Cpu.nowMs - startCpuMs) / 1000.0,
    "jit_cpu_s" -> (Cpu.jitMs - startJitMs) / 1000.0,
    "wall_s" -> (Clock.nowMs - startMs) / 1000.0)

  /** A benchmark span around a call into the program. On traced runs
    * the span id is also the Spark job group of the calling thread, so
    * the jobs the call starts are matched to it. */
  def traced[T](name: String, layer: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    tracer.span(name, layer, parent, attrs) { id =>
      if (!tracer.on) body(id)
      else {
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", s"span:$id")
        try body(id) finally sc.setLocalProperty("spark.jobGroup.id", prev)
      }
    }

  def dir(name: String): String = {
    val d = Paths.get(work, name)
    Files.createDirectories(d)
    d.toString
  }
}

/** Heap in use after a full collection, sampled at phase boundaries
  * (never inside a timed window). The first collection lets Spark's
  * cleaner free the broadcast and shuffle state it finds unreachable;
  * of the samples after it the smallest counts, so that a micro-batch an
  * idle streaming query happens to run does not. */
final class Mem {
  private var peak = 0.0
  def checkpoint(): Unit = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    val used = (1 to 3).map { _ =>
      Thread.sleep(100)
      System.gc()
      bean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak
}

/** Failures the JVM itself sees, such as messages that never arrive;
  * each counts as one failed operation. The output checks proper run
  * on the recorded facts after the JVM exits. */
final class Checks {
  val reasons = scala.collection.mutable.ArrayBuffer.empty[String]
  def fail(why: String): Unit = reasons += why
}

trait Workload {
  /** Set up, measure for `ctx.seconds`, tear down, and return raw
    * samples, counters and output facts; statistics and output checks
    * are computed by the caller of the JVM. */
  def run(ctx: Ctx, mem: Mem, checks: Checks): Map[String, Any]
}

/** Benchmark JVM entry. Runs one workload against graft's public API and
  * writes raw measurements as JSON:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <cores> <workDir> <input> <out.json>
  *
  * Untraced: one pass at `cores`. Traced: a traced pass at `cores`, a
  * half-length untraced pass at `cores` (the base of the tracing
  * overhead), and a half-length traced pass at one core (the single-core
  * baseline).
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, java.util.Locale.ROOT)
    val s = graft.GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(name: String): Workload = name match {
    case "route" => new RouteWorkload
    case "curate" => new CurateWorkload
    case "queries" => new QueriesWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def pass(name: String, seed: Long, seconds: Double,
      cores: Int, work: String, input: String, traced: Boolean,
      sessionStart: Double, sessionCpu: Double, sessionJit: Double, role: String,
      short: Boolean = false): Map[String, Any] = {
    val spark = session(cores, work)
    val sessionS = (Clock.nowMs - sessionStart) / 1000.0
    val tracer = new Tracer(traced)
    val rec = new SparkRecorder
    val prog = new ProgressRecorder
    if (traced) {
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(prog)
    }
    val mem = new Mem
    val checks = new Checks
    val ctx = Ctx(spark, seed, seconds, sessionStart, sessionCpu, sessionJit,
      Paths.get(work, role).toString, tracer, input, short)
    val t0 = Clock.nowMs
    val raw = try workload(name).run(ctx, mem, checks)
    finally {
      if (traced) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
        spark.streams.removeListener(prog)
      }
    }
    val out = raw ++ Map(
      "role" -> role, "cores" -> cores, "traced" -> traced, "session_s" -> sessionS,
      "pass_ms" -> (Clock.nowMs - t0),
      "mem_peak_mb" -> mem.peakMb,
      "failures" -> checks.reasons.toSeq,
      "spark_version" -> spark.version)
    val traceOut =
      if (!traced) Map.empty[String, Any]
      else Map(
        "jobs" -> rec.jobSeq.map(j => Map("id" -> j.id, "start" -> j.startMs,
          "end" -> j.endMs, "query" -> j.queryId, "batch" -> j.batchId,
          "group" -> j.group, "stages" -> j.stages)),
        "stages" -> rec.stageSeq.map(s => Map("id" -> s.id, "job" -> s.jobId,
          "start" -> s.startMs, "end" -> s.endMs, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes, "task_max_ms" -> s.taskMaxMs,
          "task_median_ms" -> s.taskMedianMs)),
        "progress" -> prog.all.map(p => Map("query" -> p.queryId, "name" -> p.name,
          "batch" -> p.batchId, "start" -> p.startMs, "durations" -> p.durations,
          "rows" -> p.inputRows, "state_rows" -> p.stateRows,
          "state_bytes" -> p.stateBytes, "state_commit_ms" -> p.stateCommitMs)),
        "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start" -> s.startMs,
          "end" -> s.endMs, "attrs" -> s.attrs)))
    stop(spark)
    out ++ traceOut
  }

  def main(args: Array[String]): Unit = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val Array(name, seedS, secondsS, traceS, coresS, work, input, outPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val cores = coresS.toInt
    workload(name) // fail fast on an unknown name
    val passes =
      if (traceS == "1") Seq(
        pass(name, seed, seconds, cores, work, input, true, start, 0.0, 0.0, "traced"),
        pass(name, seed, seconds / 2, cores, work, input, false, Clock.nowMs, Cpu.nowMs,
          Cpu.jitMs, "untraced", true),
        pass(name, seed, seconds / 2, 1, work, input, true, Clock.nowMs, Cpu.nowMs,
          Cpu.jitMs, "single", true))
      else Seq(pass(name, seed, seconds, cores, work, input, false, start, 0.0, 0.0, "untraced"))
    val doc = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "run_id" -> s"$name-$seed-${start.toLong}",
      "java_version" -> System.getProperty("java.version"),
      "host_cpu" -> Runtime.getRuntime.availableProcessors(),
      "passes" -> passes)
    Files.write(Paths.get(outPath), Json(doc).getBytes(UTF_8))
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
