package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener and progress timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** CPU time of the JVM in milliseconds. Unlike wall time it grows
  * little when the host takes CPU away from the virtual machine.
  *
  * `nowMs` counts every thread: tasks, driver, Spark's own threads, GC
  * and the JIT compiler. The shares of the JIT compiler (`jitMs`) and the
  * garbage collector (`gcMs`) are read from /proc/self/task (Linux;
  * elsewhere they are 0). The JVM runs with
  * -XX:-UseDynamicNumberOfCompilerThreads so that no compiler thread
  * exits and takes its time with it. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = java.nio.file.Paths.get("/proc/self/task")
  private val MsPerTick = 10.0 // USER_HZ = 100

  /** CPU time of the live threads whose name matches `pattern`. */
  def threadsMs(pattern: String): Double =
    if (!java.nio.file.Files.isDirectory(tasks)) 0.0
    else {
      val ts = java.nio.file.Files.list(tasks)
      try ts.iterator().asScala.map { t =>
        val stat = scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(t.resolve("stat")), "UTF-8")).getOrElse("")
        val close = stat.lastIndexOf(')')
        val name = if (close < 0) "" else stat.substring(stat.indexOf('(') + 1, close)
        if (!name.matches(pattern)) 0.0
        else {
          // fields after the name: state is field 3, utime 14, stime 15
          val f = stat.substring(close + 2).split(' ')
          (f(11).toLong + f(12).toLong) * MsPerTick
        }
      }.sum
      finally ts.close()
    }

  def jitMs: Double = threadsMs("C[12] CompilerThre.*")
  /** The garbage collector's threads (G1). */
  def gcMs: Double = threadsMs("GC Thread.*|G1 .*|VM Thread")

  def nowMs: Double = os.getProcessCpuTime / 1e6
}

/** One span: a timed interval at a layer boundary. `parent` is the id
  * of the span that caused it (0 = root); all spans of a run share the
  * run id written next to them. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out once when the run ends. When
  * tracing is off nothing is recorded. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (on) { spans.add(s); () }

  /** Time `body` as a span under `parent`; returns the body's value. */
  def span[T](name: String, layer: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.nowMs
    try body(id)
    finally add(Span(id, parent, name, layer, t0, Clock.nowMs, attrs))
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Jobs, stages and tasks as Spark reports them to any listener.
  * Registered only on traced runs. */
object SparkRecorder {
  final case class Job(id: Int, startMs: Double, var endMs: Double,
      queryId: String, batchId: String, group: String, stages: Seq[Int])
  final case class Stage(id: Int, jobId: Int, startMs: Double, endMs: Double,
      tasks: Int, runMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
      taskMaxMs: Long, taskMedianMs: Double)
}

final class SparkRecorder extends SparkListener {
  import SparkRecorder._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskTimes =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN,
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId"),
      prop("spark.jobGroup.id"), e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    val ts = Option(taskTimes.remove(i.stageId)).map(_.asScala.toSeq.sorted)
      .getOrElse(Seq.empty)
    val median =
      if (ts.isEmpty) 0.0
      else if (ts.size % 2 == 1) ts(ts.size / 2).toDouble
      else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
    stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble, i.numTasks,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      if (ts.isEmpty) 0L else ts.last, median))
  }

  def jobSeq: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  def stageSeq: Seq[Stage] = stages.asScala.toSeq.sortBy(_.id)
}

/** Every micro-batch progress report of every streaming query, as the
  * StreamingQueryListener hands them to any caller. */
object ProgressRecorder {
  final case class Progress(queryId: String, name: String, batchId: Long,
      startMs: Double, durations: Map[String, Long], inputRows: Long,
      stateRows: Long, stateBytes: Long, stateCommitMs: Long)
}

final class ProgressRecorder extends StreamingQueryListener {
  import ProgressRecorder._

  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
    progress.add(Progress(p.id.toString, Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum))
  }

  def all: Seq[Progress] = progress.asScala.toSeq
}
