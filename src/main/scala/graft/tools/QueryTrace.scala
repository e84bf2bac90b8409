package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.SchedulerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one Spark listener in graft: attributes executed work to the
  * job group (`spark.jobGroup.id`) it ran under. A caller names a query
  * or call with [[traced]] and reads its cost after one [[drain]]: the
  * job count, one [[QueryTrace.Stage]] row per completed stage (with
  * its task durations, the skew a stage aggregate cannot show) and the
  * distinct shuffle dependencies written by stages that succeeded
  * (which dedups AQE retries and exchange reuse) and the iterative-
  * operator rounds it ran. Jobs outside any group are not recorded. */
final class QueryTrace private (sc: SparkContext) extends SparkListener
    with AutoCloseable {
  import QueryTrace._

  private final class Acc(val jobs: AtomicInteger = new AtomicInteger(0),
      val stages: ConcurrentLinkedQueue[Stage] = new ConcurrentLinkedQueue[Stage](),
      val shuffleDeps: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int](),
      val rounds: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]())
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  private def acc(g: String) = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs.incrementAndGet()
        Option(js.properties.getProperty(graft.operators.Iterate.RoundTag)).foreach(acc(g).rounds.add)
        js.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
      }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (stageGroup.containsKey(te.stageId))
      taskMs.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue[Long]()).add(te.taskInfo.duration)

  override def onStageCompleted(done: SparkListenerStageCompleted): Unit = {
    val si = done.stageInfo
    Option(stageGroup.get(si.stageId)).foreach { g =>
      val tm = si.taskMetrics
      val a = acc(g)
      a.stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(90),
        (for (end <- si.completionTime; start <- si.submissionTime) yield end - start)
          .getOrElse(-1L),
        si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000L,
        tm.shuffleReadMetrics.fetchWaitTime, tm.shuffleWriteMetrics.bytesWritten,
        Option(taskMs.remove(si.stageId)).fold(Vector.empty[Long])(_.asScala.toVector.sorted)))
      // a failed or cancelled map stage wrote no usable shuffle
      if (si.failureReason.isEmpty) SchedulerBridge.shuffleDepId(si).foreach(a.shuffleDeps.add)
    }
  }

  /** Run `body` with its jobs attributed to `group`. */
  def traced[T](group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Wait (bounded) until the listener bus has delivered every event
    * posted so far, then snapshot each group. Jobs that returned before
    * the call are complete in the snapshot: Spark posts a job's task,
    * stage and job-end events before its action returns. */
  def drain(): Map[String, Group] = {
    SchedulerBridge.drainListenerBus(sc, timeoutMs = 10000L)
    groups.asScala.map { case (g, a) =>
      g -> Group(a.jobs.get, a.stages.asScala.toVector, a.shuffleDeps.asScala.toSet, a.rounds.size)
    }.toMap
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object QueryTrace {
  /** One completed stage: wall and summed task times in ms, shuffle
    * write in bytes, and its task durations sorted ascending. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, cpuMs: Long, fetchWaitMs: Long, shuffleWriteBytes: Long,
      taskMs: Vector[Long])

  /** One group's cost. `rounds` is the number of distinct
    * [[graft.operators.Iterate]] rounds whose jobs ran in the group:
    * counted by round tag, not by job, because AQE stage jobs inherit
    * the tag and their number varies between identical runs. */
  final case class Group(jobs: Int, stages: Vector[Stage], shuffleDeps: Set[Int], rounds: Int) {
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  def attach(spark: SparkSession): QueryTrace = {
    val t = new QueryTrace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
