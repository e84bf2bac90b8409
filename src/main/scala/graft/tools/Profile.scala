package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Profiling CLI over the registry, with [[graft.Bench]]'s methodology:
  * an untimed warm-up, cache/RDD isolation before every timed run, full
  * materialization through the noop sink, and per-query attribution by
  * [[QueryTrace]]. Queries resolve by [[resolve]]; usage errors exit 2.
  *
  *   runMain graft.tools.Profile <mode> <sfDir> <q1,q2,...> [reps|outDir]
  *  - `reps [n]`: min-of-n seconds per query, plus the warmest (last)
  *    rep's per-stage table (wall, tasks, run/cpu/fetch-wait, shuffle
  *    write, task max/median) and its iterative-operator rounds.
  *  - `passes`: three bench-shaped passes over the list (interleaved,
  *    unlike `reps`): the per-query seconds min-of-passes sees.
  *  - `fixed [n]`: the driver-side constant: build+analyze, plan and n
  *    fresh executions (exec1 pays cold codegen), with the last one's
  *    jobs, stages and iterative-operator rounds.
  *  - `plans [outDir]`: `explain("formatted")` per query, to
  *    `<outDir>/<name>.txt` when given, else to stdout, with its
  *    per-construction ids renumbered ([[stable]]). */
object Profile {
  private val Usage =
    "usage: Profile <reps|passes|fixed|plans> <sfDir> <q1,q2,...> [reps|outDir]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(Usage); sys.exit(2) }
    val spark = GraftSession.local()
    val code = try run(args, spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** CLI body: never exits and never stops the session it is handed;
    * returns the exit code (0 ok, 2 usage error). */
  private[graft] def run(args: Array[String], spark: SparkSession): Int = {
    val Seq(mode, dir, list) = args.toSeq.padTo(3, "").take(3)
    val all = SparkEntry.queries
    val resolved = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map(resolve(all.keys, _))
    val reps = if (mode == "plans") Some(1) else args.lift(3).fold(Option(1))(_.toIntOption.filter(_ > 0))
    val errors = resolved.collect { case Left(e) => e }
    if (!Set("reps", "passes", "fixed", "plans")(mode) || resolved.isEmpty ||
        reps.isEmpty || errors.nonEmpty) {
      System.err.println((errors :+ Usage).mkString("\n")); return 2
    }
    val (names, n) = (resolved.collect { case Right(q) => q }, reps.get)
    def query(name: String): DataFrame = all(name)(spark, dir)
    if (mode == "plans") {
      names.foreach { name =>
        val plan = stable(query(name).queryExecution.explainString(FormattedMode))
        args.lift(3).fold(println(s"[plans] $name\n$plan")) { d =>
          val out = Files.createDirectories(Paths.get(d)).resolve(s"$name.txt")
          Files.writeString(out, plan)
          println(s"[plans] $name -> $out")
        }
      }
      return 0
    }
    warmUp(spark)
    val trace = QueryTrace.attach(spark)
    // rep i of a query runs in job group "<name>#i"
    def timed(name: String, i: Int): Double = {
      isolate(spark)
      trace.traced(s"$name#$i")(timeNoop(query(name)))
    }
    try mode match {
      case "reps" =>
        val mins = names.map { name =>
          val ts = (1 to n).map { i =>
            val dt = timed(name, i)
            println(f"[reps] $name rep $i: $dt%.3f s")
            dt
          }
          val last = trace.drain()(s"$name#$n")
          stageTable(name, last.stages)
          (name, ts.min, last.rounds)
        }
        println("[reps] ---- min seconds ----")
        mins.foreach { case (q, t, r) => println(f"[reps] $q%-40s $t%.3f rounds=$r") }
        println(f"[reps] sum-of-mins: ${mins.map(_._2).sum}%.3f")
      case "passes" =>
        val ps = (1 to 3).map(p => names.map(timed(_, p)))
        println("[pass] name p1 p2 p3")
        names.indices.foreach(i =>
          println(f"[pass] ${names(i)}%-36s ${ps(0)(i)}%.3f ${ps(1)(i)}%.3f ${ps(2)(i)}%.3f"))
        println(f"[pass] totals ${ps(0).sum}%.2f ${ps(1).sum}%.2f ${ps(2).sum}%.2f")
      case "fixed" =>
        println("[fixed] name build+analyze plan exec1..execN jobs stages rounds (ms)")
        names.foreach { name =>
          isolate(spark)
          val t0 = System.nanoTime()
          val qe = query(name).queryExecution
          qe.analyzed
          val t1 = System.nanoTime()
          qe.executedPlan
          val t2 = System.nanoTime()
          // a fresh frame per rep: construction-time pins and
          // checkpoints re-run, as they do in every bench pass
          val execs = (1 to n).map(i => math.round(timed(name, i) * 1000))
          val last = trace.drain()(s"$name#$n")
          println(s"[fixed] $name build=${(t1 - t0) / 1000000} plan=${(t2 - t1) / 1000000} " +
            s"exec=${execs.mkString(",")} jobs=${last.jobs} stages=${last.stages.size} " +
            s"rounds=${last.rounds}")
        }
    } finally trace.close()
    0
  }

  /** The registry name `q` means: itself when registered, else every
    * name whose numeric id equals `q`'s ("19" and "q19" both mean
    * `q19_…`). All matches are collected, not the first one found: with
    * a first-match rule, two queries sharing an id would time whichever
    * the map iterates first. Left(message) when none or several match. */
  def resolve(all: Iterable[String], q: String): Either[String, String] = {
    def id(s: String) = s.stripPrefix("q").takeWhile(_ != '_')
    if (all.exists(_ == q)) Right(q)
    else all.filter(id(_) == id(q)).toSeq.sorted match {
      case Seq(one) => Right(one)
      case Seq() => Left(s"unknown query '$q'")
      case many => Left(s"ambiguous query '$q': ${many.mkString(", ")}")
    }
  }

  /** `plan` with what differs between two constructions of one query
    * renumbered in order of first appearance: expression ids `#N`,
    * `plan_id=N`, `RDD[N]` and `@<hex>` identity hashes (plan-time
    * models such as `[[D@151ce559`), so two dumps of the same code diff
    * clean. Each kind counts from 1; the plan's structure is kept. */
  private[tools] def stable(plan: String): String =
    Seq("#" -> """#(\d+)""", "plan_id=" -> """plan_id=(\d+)""",
      "RDD[" -> """RDD\[(\d+)""", "@" -> """@([0-9a-f]{1,8})\b""")
      .foldLeft(plan) { case (text, (prefix, pattern)) =>
        val seen = scala.collection.mutable.HashMap.empty[String, Int]
        pattern.r.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
          prefix + seen.getOrElseUpdate(m.group(1), seen.size + 1)))
      }

  /** Run the entry query once, untimed, so the first timed run measures
    * its plan rather than first-call JIT and class loading. */
  def warmUp(spark: SparkSession): Unit =
    try timeNoop(SparkEntry.entry(spark))
    catch { case e: Throwable =>
      System.err.println(s"[profile] WARNING warm-up failed: ${e.getMessage}")
    }

  /** Drop cached relations and persisted/checkpointed RDD blocks, so no
    * timed run measures a predecessor's storage state. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Seconds to build `df` and materialize it through the noop sink. */
  def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def stageTable(name: String, stages: Seq[QueryTrace.Stage]): Unit = {
    println(s"[stages] $name — stageId wall(ms) tasks runTime(ms) cpu(ms) " +
      "fetchWait(ms) shufWrKB taskMax/Med(ms) name")
    stages.sortBy(-_.wallMs).take(12).foreach { s =>
      val (mx, md) = if (s.taskMs.isEmpty) (-1L, -1L) else (s.taskMs.last, s.taskMs(s.taskMs.size / 2))
      println(f"[stages]   ${s.id}%5d ${s.wallMs}%7d ${s.tasks}%5d ${s.runMs}%8d ${s.cpuMs}%8d " +
        f"${s.fetchWaitMs}%6d ${s.shuffleWriteBytes / 1024}%8d $mx%6d/$md%-6d ${s.name}")
    }
    println(f"[stages]   total-wall=${stages.map(_.wallMs).sum}%d ms over ${stages.size} stages")
  }
}
