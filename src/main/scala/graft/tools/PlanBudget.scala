package graft.tools

import graft.GraftSession

/** Regenerates the registry's exchange-budget file (the PlanShapeSpec
  * data-exchange regression gate): walks every registered query's
  * physical plan at the spec's SF and records its data-exchange count
  * (hash + range partitioning — broadcasts excluded: they are the
  * cheap exchange kind the plans SHOULD prefer).
  *
  * `runMain graft.tools.PlanBudget [outFile] [sfDir]`
  *
  * Run this exactly when a plan change is INTENTIONAL (a new query, a
  * deliberate rework) and commit the diff — the spec fails on any
  * query whose measured count exceeds its recorded budget, which is
  * how an accidental extra shuffle (the GlobalIndex double-exchange
  * class, caught by hand in round 12) becomes a red test instead of a
  * scale regression discovered at 100x.
  */
object PlanBudget {
  /** Count of DISTINCT data exchanges in a physical-plan string. A
    * cached relation (Materialize.SitePin) is printed
    * once under EVERY InMemoryTableScan that references it, so a raw
    * occurrence count would bill the one shuffle that body executes
    * once per reference — dedup by the exchange's own line text
    * (operator/plan ids and expression ids make every distinct
    * exchange line unique, while reprints of the same node are
    * character-identical after stripping tree decoration). */
  def dataExchanges(plan: String): Int =
    plan.linesIterator
      .map(_.dropWhile(c => !c.isLetter))
      .filter(l => l.startsWith("Exchange hashpartitioning") ||
        l.startsWith("Exchange rangepartitioning"))
      .toSeq.distinct.size

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0)
      else "src/test/resources/exchange_budgets.txt"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    // construction-time exchanges: shuffles an eager localCheckpoint or
    // SitePin runs in its own jobs while the frame is built, which the
    // final plan string never shows (the r20 blind spot)
    val trace = QueryTrace.attach(spark)
    val plans = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val p = trace.traced(name)(graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString)
      name -> dataExchanges(p)
    }
    val hidden = trace.drain().map { case (name, g) => name -> g.shuffleDeps.size }
    trace.close()
    // TWO columns: final-plan exchanges (deterministic — gated
    // strictly) and construction-time (checkpoint-hidden) shuffle
    // stages (runtime-adaptive: AQE decisions inside iterative rounds
    // wobble the executed-stage count by ±1 between identical runs —
    // gated with a small documented slack). Together the gate bounds
    // TOTAL data movement, not just what survives into the final plan.
    val lines = plans.map { case (name, n) =>
      s"$name $n ${hidden.getOrElse(name, 0)}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote ${lines.size} budgets to $out")
    spark.stop()
  }
}
