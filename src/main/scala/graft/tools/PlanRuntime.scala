package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

import graft.{GraftSession, SparkEntry}

/** Post-execution plan inspection: runs a registry query to completion
  * so AQE finalizes, then reports on the FINAL physical plan — the
  * form in which runtime exchange/stage reuse is visible (the initial
  * plan shows duplicate subtrees that AQE may still dedup at stage
  * submission — or, the GlobalIndex round-12 lesson, subtrees the
  * initial plan SHOWS as reused that the runtime re-materializes).
  *
  * Counting walks the plan TREE, not the rendered string: a string
  * count over-reports cached subtrees (`InMemoryTableScan` prints its
  * relation's whole cached plan per REFERENCE, so one persisted
  * 5-reference shingle frame string-counts as 5 parquet scans that
  * execute once). The walk descends through AQE wrappers
  * (AdaptiveSparkPlanExec → executedPlan, QueryStageExec → plan),
  * stops at ReusedExchange (reuse, not work), counts each distinct
  * InMemoryRelation's cache-fill scans exactly once, and counts
  * exchanges only where they materialize (inside shuffle query
  * stages, not re-wrapped references).
  *
  * Usage:
  *   PlanRuntime <queryName> [sfDir]   — dump one query's final plan
  *     (a name or numeric id, resolved by [[Profile.resolve]])
  *   PlanRuntime --all [sfDir]         — sweep the whole registry and
  *     print one line per query: executed scans / distinct source
  *     tables / excess (scans beyond one per distinct table — each
  *     excess is a branch that re-ran its input at runtime), plus
  *     hash/range exchange and reuse counts. Sorted by excess so the
  *     re-execution candidates lead. Excess > 0 is a REVIEW trigger,
  *     not automatically a defect: a deliberate cheap double-scan
  *     (two pushed-down column subsets) can beat one wide scan +
  *     checkpoint — judge the plan.
  */
object PlanRuntime {
  final case class Audit(name: String, scans: Int, tables: Int,
      hashEx: Int, rangeEx: Int, reused: Int, cached: Int) {
    def excess: Int = scans - tables
    def line: String =
      f"$name%-32s scans=$scans tables=$tables excess=$excess%2d " +
        f"hashEx=$hashEx rangeEx=$rangeEx reused=$reused cached=$cached"
  }

  /** Walk the EXECUTED plan tree, descending through adaptive
    * wrappers; `f` sees every node that represents real work once. */
  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case q: QueryStageExec => walk(q.plan, f)
      case _: ReusedExchangeExec => () // reference, not work
      case _ => p.children.foreach(walk(_, f))
    }
  }

  /** Run `df` (registry query `name`) to completion and audit its
    * final plan. */
  def audit(name: String, df: org.apache.spark.sql.DataFrame): Audit = {
    df.write.format("noop").mode("overwrite").save()
    var scans, hashEx, rangeEx, reused = 0
    val caches = scala.collection.mutable.Map.empty[Int, InMemoryRelation]
    def isParquetScan(p: SparkPlan): Boolean =
      p.getClass.getSimpleName == "FileSourceScanExec"
    def classify(p: SparkPlan): Unit = p match {
      case s if isParquetScan(s) => scans += 1
      case m: InMemoryTableScanExec =>
        // the CachedRDDBuilder is the shared handle: every reference
        // to one persisted frame carries the same builder instance
        caches.getOrElseUpdate(
          System.identityHashCode(m.relation.cacheBuilder), m.relation)
      case e: ShuffleExchangeLike => e.outputPartitioning match {
        case _: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          hashEx += 1
        case _: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning =>
          rangeEx += 1
        case _ => ()
      }
      case _: ReusedExchangeExec => reused += 1
      case _ => ()
    }
    walk(df.queryExecution.executedPlan, classify)
    // each distinct cached relation fills once — count ITS work once
    // (worklist: a cached plan may itself reference another cache)
    var audited = Set.empty[Int]
    var pending = caches.keySet.toSet
    while (pending.nonEmpty) {
      pending.foreach { k => walk(caches(k).cachedPlan, classify); audited += k }
      pending = caches.keySet.toSet -- audited
    }
    // distinct parquet tables the query reads, from the analyzed plan
    val tables = df.queryExecution.analyzed.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }.distinct.size
    Audit(name, scans, tables, hashEx, rangeEx, reused, caches.size)
  }

  def main(args: Array[String]): Unit = {
    val target = args.headOption.map {
      case "--all" => Right(None)
      case q => Profile.resolve(SparkEntry.queries.keys, q).map(Some(_))
    }.getOrElse(Left("usage: PlanRuntime <queryName> [sfDir] | PlanRuntime --all [sfDir]"))
    target.swap.foreach { err => System.err.println(err); sys.exit(2) }
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    try target.foreach {
      case None =>
        val audits = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
          val a = audit(n, fn(spark, dir))
          System.err.println(a.line) // progress as it runs
          a
        }
        println("== runtime scan audit (sorted by excess) ==")
        audits.sortBy(a => (-a.excess, a.name)).foreach(a => println(a.line))
        println(s"excess>0: ${audits.count(_.excess > 0)} of ${audits.size}")
      case Some(name) =>
        val df = SparkEntry.queries(name)(spark, dir)
        val a = audit(name, df)
        println("== FINAL ==\n" + df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
        println(a.line)
    } finally spark.stop()
  }
}
