package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

object QueriesWorkload {
  /** Three groups, each bound by a different layer: per-query fixed
    * cost (`tail`), operator exchanges (`cep`: AsofJoin, EventPattern),
    * and function compute plus shuffle (`dedup`: MinHash LSH). */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "tail" -> Seq("q02", "q07", "q18", "q95"),
    "cep" -> Seq("q47", "q142"),
    "dedup" -> Seq("q20", "q31"))
  /** Timed passes: one per `PassNominalS` seconds of `--seconds`, at
    * least `MinPasses`. */
  val MinPasses = 3
  val PassNominalS = 4.0
  /** The second pass of a fresh JVM still runs ~10% slower than later
    * ones while the JIT compiles. */
  val WarmupPasses = 2

  final case class Timing(pass: Int, group: String, name: String, startMs: Double,
      buildMs: Double, execMs: Double, wallMs: Double)
}

/** `queries`: batch work, closed loop, one client. Each pass runs the
  * registered queries of every group through the noop sink. */
final class QueriesWorkload extends Workload {
  import QueriesWorkload._

  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(ctx: Ctx, mem: Mem, checks: Checks): Map[String, Any] = {
    val spark = ctx.spark
    val byPrefix = SparkEntry.allSpecs.map(s => s.name.takeWhile(_ != '_') -> s).toMap
    val plan = Groups.flatMap { case (g, qs) => qs.map(q => g -> byPrefix(q)) }
    val root = ctx.tracer.nextId()
    val timings = mutable.ArrayBuffer.empty[Timing]

    // warm-up passes (pass 0) write each result as parquet for the
    // checks; timed passes write through the noop sink
    val out = ctx.dir("outputs")
    def pass(n: Int, parent: Long): Unit = plan.foreach { case (g, spec) =>
      isolate(spark)
      val w0 = Clock.nowMs
      ctx.traced(spec.name, "queries", parent, Map("group" -> g, "pass" -> n)) { qs =>
        val df = ctx.traced("build", "queries", qs)(_ => spec.fn(spark, ctx.input))
        val b1 = Clock.nowMs
        ctx.traced("execute", "spark", qs)(_ =>
          if (n == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$out/${spec.name}")
          else df.write.format("noop").mode("overwrite").save())
        val e1 = Clock.nowMs
        timings += Timing(n, g, spec.name, w0, b1 - w0, e1 - b1, e1 - w0)
      }
    }

    val setup = ctx.setup
    // warm-up passes over the same list (JIT, codegen, schema caches)
    val warm0 = Clock.nowMs
    ctx.traced("warmup", "bench", root)(p => (1 to ctx.warmups(WarmupPasses)).foreach(_ => pass(0, p)))
    val warmupS = (Clock.nowMs - warm0) / 1000
    mem.checkpoint()

    val start = Clock.nowMs
    val passCpuMs = mutable.ArrayBuffer.empty[Double]
    val passJitMs = mutable.ArrayBuffer.empty[Double]
    val passGcMs = mutable.ArrayBuffer.empty[Double]
    (1 to ctx.timedOps(PassNominalS, MinPasses)).foreach { n =>
      val (c0, j0, g0) = (Cpu.nowMs, Cpu.jitMs, Cpu.gcMs)
      ctx.traced(s"pass$n", "bench", root)(p => pass(n, p))
      passCpuMs += Cpu.nowMs - c0
      passJitMs += Cpu.jitMs - j0
      passGcMs += Cpu.gcMs - g0
      mem.checkpoint()
    }
    val windowEnd = Clock.nowMs

    // a second row count for the queries without an oracle, outside
    // every timed window
    val oracle = SparkEntry.oracleSql
    val recount = plan.collect { case (_, spec) if !oracle.contains(spec.name) =>
      isolate(spark)
      spec.name -> spec.fn(spark, ctx.input).count()
    }.toMap
    Map("setup" -> setup, "warmup_s" -> warmupS, "cpu_ms" -> passCpuMs.toSeq,
      "jit_ms" -> passJitMs.toSeq, "gc_ms" -> passGcMs.toSeq, "ops" -> timings.count(_.pass > 0),
      "timings" -> timings.filter(_.pass > 0).map(t => Map("pass" -> t.pass,
        "group" -> t.group, "name" -> t.name, "start" -> t.startMs,
        "build_ms" -> t.buildMs, "exec_ms" -> t.execMs, "wall_ms" -> t.wallMs)),
      "outputs" -> out,
      "oracle" -> plan.flatMap { case (_, s) => oracle.get(s.name).map(s.name -> _) }.toMap,
      "recount" -> recount,
      "window" -> Map("start" -> start, "end" -> windowEnd))
  }
}
