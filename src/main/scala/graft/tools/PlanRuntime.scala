package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.graft.SchedulerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

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

  /** Run `df` (registry query `name`) through the noop sink and audit
    * the plan that ran; returns the audit and that plan. The write
    * plans its own QueryExecution (`df.queryExecution.executedPlan`
    * never runs and stays `isFinalPlan=false`): a query-execution
    * listener hands the write's plan over. */
  def audit(name: String, df: DataFrame): (Audit, SparkPlan) = {
    val ran = new AtomicReference[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ran.set(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      Profile.timeNoop(df)
      SchedulerBridge.drainListenerBus(df.sparkSession.sparkContext, timeoutMs = 10000L)
    } finally df.sparkSession.listenerManager.unregister(listener)
    val plan = Option(ran.get).getOrElse(sys.error(s"$name: the write's plan never reached the listener"))
    var scans, hashEx, rangeEx, reused = 0
    val caches = scala.collection.mutable.Map.empty[Int, InMemoryRelation]
    def classify(p: SparkPlan): Unit = p match {
      case s if s.getClass.getSimpleName == "FileSourceScanExec" => scans += 1
      case m: InMemoryTableScanExec =>
        // the CachedRDDBuilder is the shared handle: every reference
        // to one persisted frame carries the same builder instance
        caches.getOrElseUpdate(
          System.identityHashCode(m.relation.cacheBuilder), m.relation)
      case e: ShuffleExchangeLike => e.outputPartitioning match {
        case _: HashPartitioning => hashEx += 1
        case _: RangePartitioning => rangeEx += 1
        case _ => ()
      }
      case _: ReusedExchangeExec => reused += 1
      case _ => ()
    }
    walk(plan, classify)
    // each distinct cached relation fills once — count ITS work once
    // (worklist: a cached plan may itself reference another cache)
    var audited = Set.empty[Int]
    var pending = caches.keySet.toSet
    while (pending.nonEmpty) {
      pending.foreach { k => walk(caches(k).cachedPlan, classify); audited += k }
      pending = caches.keySet.toSet -- audited
    }
    // distinct parquet tables the query reads, from the analyzed plan
    val tables = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
    }.flatten.distinct.size
    (Audit(name, scans, tables, hashEx, rangeEx, reused, caches.size), plan)
  }

  /** The single-query dump: the final plan that ran (its adaptive
    * initial plan cut), then the audit line. */
  def dump(name: String, df: DataFrame): String = {
    val (a, plan) = audit(name, df)
    "== FINAL ==\n" + plan.toString.split("== Initial Plan ==").head + "\n" + a.line
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
          val (a, _) = audit(n, fn(spark, dir))
          System.err.println(a.line) // progress as it runs
          a
        }
        println("== runtime scan audit (sorted by excess) ==")
        audits.sortBy(a => (-a.excess, a.name)).foreach(a => println(a.line))
        println(s"excess>0: ${audits.count(_.excess > 0)} of ${audits.size}")
      case Some(name) =>
        println(dump(name, SparkEntry.queries(name)(spark, dir)))
    } finally spark.stop()
  }
}
