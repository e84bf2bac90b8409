package graft.queries

import graft.SparkSpec

/** Executable evidence for the 100 TB plan claims: the physical plans
  * of headline registered queries must carry the shapes the docs
  * promise — filters pushed to the parquet scan, unread columns
  * pruned, small dims broadcast (never sort-merged), top-k fused into
  * TakeOrdered, rank-limits pushed as WindowGroupLimit, unpivot as a
  * single Expand, Bloom probes below the exchange. A regression that
  * silently de-optimizes one of these (an accidental UDF wrapper, a
  * lost broadcast hint, a filter stranded above a projection) fails
  * here even though results stay correct.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q02 filter+project: predicates reach the parquet scan, unread columns are pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [") &&
      (p.contains("EqualTo(event_type,click)") || p.contains("EqualTo(event_type, click)")),
      s"event_type filter must be pushed to the scan:\n$p")
    assert(p.contains("GreaterThan(value,50.0)"),
      s"value filter must be pushed to the scan:\n$p")
    assert(!p.contains("props"),
      s"untouched 'props' column must be pruned from ReadSchema:\n$p")
  }

  test("q07 top-k: sort+limit fuse into TakeOrderedAndProject (no global sort)") {
    val p = plan("q07_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit must ride the sort as a per-partition top-k + merge:\n$p")
  }

  test("q14 star join: dimension joins broadcast, fact side never sort-merges") {
    val p = plan("q14_star_join")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join in the star plan at this SF:\n$p")
  }

  test("q101 Bloom semi join: the probe filter sits below the join") {
    val p = plan("q101_bloom_semijoin")
    assert(p.contains("mightContainLong"),
      s"scan-side Bloom probe must appear in the physical plan:\n$p")
  }

  test("q106 unpivot: one Expand inside the scan stage, aggregate shuffles once") {
    val p = plan("q106_unpivot_profile")
    assert(countOf(p, "Expand") == 1,
      s"unpivot must plan as exactly one Expand:\n$p")
  }

  test("q108 grouping sets: one Expand feeds one aggregate (not two scans + union)") {
    val p = plan("q108_grouping_sets")
    assert(countOf(p, "Expand") == 1,
      s"grouping sets must plan as exactly one Expand:\n$p")
    assert(countOf(p, "Scan parquet") == 1,
      s"one pass over the input, not per-set scans:\n$p")
  }

  test("q110 top-k with ties: rank filter pushes down as WindowGroupLimit") {
    val p = plan("q110_topk_ties")
    assert(p.contains("WindowGroupLimit"),
      s"rank()<=k must prune past-k rows before the full window sort:\n$p")
  }

  test("q105 gap fill: the span row broadcasts; the spine never shuffles on its own") {
    val p = plan("q105_gap_fill")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row span must broadcast into the spine generator:\n$p")
  }

  test("q112 inverted index: analytic df shares the posting shuffle — one scan, no self-join") {
    val p = plan("q112_inverted_index")
    assert(countOf(p, "Scan parquet") == 1,
      s"df-as-window must not re-derive the tokenize per branch:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no join-back of the frequency table:\n$p")
  }

  test("q47 as-of join: linear union-carry shape — no nested-loop, no range-join blowup") {
    val p = plan("q47_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must never plan a pair-space join:\n$p")
  }

  test("q122 html extract: the regexp chain rides the scan — no shuffle before the gate's sort") {
    val p = plan("q122_html_extract")
    assert(countOf(p, "Exchange") <= 1,
      s"extraction must be projection-only; only the orderBy may exchange:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SortMergeJoin"),
      s"pure codegen projection expected:\n$p")
  }

  test("q126 duplicate spans: df join carries 8-byte keys, never a pair-space join") {
    val p = plan("q126_duplicate_spans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"gram membership must be an equi-join:\n$p")
    assert(p.contains("xxhash64"),
      s"the shuffle key must be the hashed gram, not the string:\n$p")
  }

  test("q127 merge: ONE join in the plan — no per-clause re-joins") {
    val p = plan("q127_merge")
    val joins = countOf(p, "SortMergeJoin") + countOf(p, "BroadcastHashJoin") +
      countOf(p, "ShuffledHashJoin")
    assert(joins == 1, s"MERGE must lower to exactly one outer join, got $joins:\n$p")
  }

  test("q128 table diff: one full-outer join, no Expand/Window") {
    val p = plan("q128_table_diff")
    val joins = countOf(p, "SortMergeJoin") + countOf(p, "BroadcastHashJoin") +
      countOf(p, "ShuffledHashJoin")
    assert(joins == 1, s"diff must be exactly one outer join, got $joins:\n$p")
    assert(!p.contains("Window"), s"no window in the diff path:\n$p")
  }

  // ---- registry-wide guard: the partitionless-window class ----
  //
  // A `Window.orderBy(…)` with no partitionBy plans a SINGLE-partition
  // WindowExec: every input row moves to one task and sorts there —
  // correct at any SF, a cliff at 100 TB the moment the input scales
  // with the corpus (the q65 defect round 11 found). The only sound
  // uses are CONTROL-PLANE relations whose row count is bounded by
  // construction, independent of data volume. This sweep walks the
  // optimized logical plan of EVERY registered query (future entries
  // included automatically, the DeterminismSpec pattern) and fails on
  // any partitionless Window unless its ordering matches the explicit
  // control-plane whitelist:
  //   - `_pid` — GlobalIndex/GlobalPrefix offset prefix-sums: one row
  //     per PARTITION (|tasks|, not |rows|) by the groupBy(_pid) that
  //     feeds them;
  //   - q153's CDF over `v` — one row per DISTINCT doc length, bounded
  //     by the length domain, not the corpus.
  /** ONE walk of the whole registry shared by the registry-wide
    * guards below: invoking a query's builder re-runs its eager side
    * effects (q147's index write, the localCheckpoint folds), so each
    * guard walking separately would multiply that cost per guard. */
  private lazy val (registryWalk: Map[String,
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String)],
      constructionShuffles: Map[String, Int]) = {
    // construction-time shuffles (eager localCheckpoint/SitePin jobs)
    // are attributed per query by QueryTrace's job groups: the distinct
    // shuffle dependencies each query's construction wrote, the
    // exchanges the final plan string hides behind checkpoint leaves,
    // counted by the budget gate below (the r20 blind spot)
    val trace = graft.tools.QueryTrace.attach(spark)
    try {
      val walk = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
        name -> trace.traced(name) {
          val qe = graft.SparkEntry.queries(name)(spark, dir).queryExecution
          (qe.optimizedPlan, qe.executedPlan.toString)
        }
      }.toMap
      (walk, trace.drain().map { case (name, g) => name -> g.shuffleDeps.size })
    } finally trace.close()
  }

  test("no corpus-scale relation feeds a partitionless Window anywhere in the registry") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val allowedOrderCols: Map[String, Set[String]] =
      Map(
        // global CDF / rank ladder over DISTINCT value points — the
        // relation is |value domain|-sized, not corpus-sized
        "q153_ks_drift" -> Set("v"),
        "q159_mann_whitney" -> Set("v")).withDefaultValue(Set.empty)
    val offenders = registryWalk.toSeq.sortBy(_._1).flatMap { case (name, (plan, _)) =>
      plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty =>
          val orderCols = w.orderSpec
            .flatMap(_.references.toSeq.map(_.name)).toSet
          if (orderCols.subsetOf(Set("_pid") ++ allowedOrderCols(name))) None
          else Some(s"$name: partitionless Window ordered by " +
            s"${orderCols.mkString(",")}")
      }.flatten
    }
    assert(offenders.isEmpty,
      s"single-partition window over corpus-scale data:\n${offenders.mkString("\n")}")
  }

  // ---- registry-wide guard: the exchange-budget gate ----
  //
  // Every data exchange (hash or range partitioning) is a full
  // shuffle of its input; an ACCIDENTAL extra one is the classic
  // silent scale regression — results stay hash-identical while the
  // 100 TB cost doubles (the GlobalIndex `Window.partitionBy(
  // spark_partition_id())` defect this round: "task-local" on paper,
  // planned as a second full Exchange). This gate pins every
  // registered query's measured data-exchange count against the
  // checked-in budget (`src/test/resources/exchange_budgets.txt`,
  // regenerated via `runMain graft.tools.PlanBudget` exactly when a
  // plan change is intentional). Broadcast exchanges are excluded:
  // they are the cheap kind the plans should prefer, and counting
  // them would punish a shuffle→broadcast improvement.
  test("no registered query exceeds its recorded data-exchange budget") {
    val budgetFile = java.nio.file.Paths
      .get("src/test/resources/exchange_budgets.txt")
    assert(java.nio.file.Files.exists(budgetFile),
      "exchange_budgets.txt missing — run `sbt 'runMain graft.tools.PlanBudget'`")
    // two columns per query: deterministic final-plan exchanges, and
    // construction-time (checkpoint-hidden) shuffle stages
    val budgets: Map[String, (Int, Int)] =
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(budgetFile)).asScala
        .filter(_.nonEmpty)
        .map { l =>
          val parts = l.split(" ")
          parts(0) -> ((parts(1).toInt, parts(2).toInt))
        }.toMap
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val missing = names.filterNot(budgets.contains)
    assert(missing.isEmpty,
      s"queries with no recorded exchange budget (run PlanBudget and commit): ${missing.mkString(", ")}")
    val stale = budgets.keys.filterNot(names.contains)
    assert(stale.isEmpty,
      s"budgets for queries no longer registered (re-run PlanBudget): ${stale.mkString(", ")}")
    val over = names.flatMap { name =>
      // STRICT on the deterministic final-plan exchange count; +2
      // slack on the construction-time (checkpoint-hidden) shuffle
      // stages, whose executed count wobbles ±1 between identical
      // runs (AQE decisions inside iterative dupClusters rounds).
      // Before r21 the construction side wasn't bounded at all — the
      // r20 ADVICE blind spot this closes.
      val (planBudget, consBudget) = budgets(name)
      val planGot = graft.tools.PlanBudget.dataExchanges(registryWalk(name)._2)
      val consGot = constructionShuffles.getOrElse(name, 0)
      if (planGot > planBudget)
        Some(s"$name: $planGot plan exchanges > budget $planBudget")
      else if (consGot > consBudget + 2)
        Some(s"$name: $consGot construction shuffles > budget $consBudget (+2 slack)")
      else None
    }
    assert(over.isEmpty,
      s"data-exchange regressions (if intentional, re-run PlanBudget and commit the diff):\n${over.mkString("\n")}")
  }

  test("q147 incremental dedup: the frozen corpus is read ONLY through the stored band index") {
    // the correctness precondition of continuous-ingestion dedup: the
    // incremental job's plan may scan documents only for the NEW slice
    // (its two union branches) and touches the accepted corpus solely
    // via the persisted (band, band_key, doc_id) parquet — whose scan
    // must not read text
    val p = plan("q147_incremental_dedup")
    // the new slice's bands materialize eagerly (they're the rows a
    // caller appends to the index), so the incremental plan contains
    // NO document-text scan at all — old OR new
    assert(countOf(p, "documents.parquet") == 0,
      s"the incremental job must consume only band rows, never text:\n$p")
    assert(p.contains("graft-q147-idx"),
      s"the stored band index must appear as a scan:\n$p")
    val idxLines = p.linesIterator.filter(_.contains("graft-q147-idx")).toSeq
    assert(idxLines.nonEmpty && idxLines.forall(!_.contains("text")),
      s"the index scan must never read document text:\n${idxLines.mkString("\n")}")
  }
}
