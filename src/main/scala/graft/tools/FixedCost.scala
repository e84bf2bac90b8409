package graft.tools

import graft.{GraftSession, SparkEntry}

/** Decomposes a query's wall time into the driver-side constant the
  * sub-second tail pays (guide §1.1 — find where the time actually
  * goes before touching anything):
  *   - build+analyze: constructing the DataFrame (plan build + analysis)
  *   - plan: optimize + physical planning (executedPlan forced)
  *   - exec1..execN: repeated noop-sink executions under bench
  *     isolation (exec1 pays cold codegen; the later reps show the
  *     steady-state floor; a list whose generated classes fit
  *     [[GraftSession]]'s 512-entry codegen cache compiles only once)
  * plus the executed job/stage counts of the LAST rep.
  *
  * `runMain graft.tools.FixedCost <sfDir> <reps> <q1,q2,...>`
  */
object FixedCost {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val spark = GraftSession.local()
    val all = SparkEntry.queries
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty).map { q =>
      if (all.contains(q)) q
      else all.keys.filter(
        _.stripPrefix("q").takeWhile(_ != '_') == q.stripPrefix("q")).toSeq match {
        case Seq(one) => one
        case _ => System.err.println(s"unknown/ambiguous '$q'"); sys.exit(2); ""
      }
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stagesN = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stagesN.incrementAndGet(); ()
        }
      })
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
    println("[fixed] name build+analyze plan exec1..execN jobs stages (ms)")
    names.foreach { name =>
      val fn = all(name)
      isolate()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      df.queryExecution.analyzed
      val tBuild = ms(t0)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val tPlan = ms(t1)
      val execs = (1 to reps).map { _ =>
        isolate()
        // fresh frame per rep: construction-time pins/checkpoints must
        // re-run, matching what the bench pays per pass
        val t = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        ms(t)
      }
      Thread.sleep(200)
      jobs.set(0); stagesN.set(0)
      isolate()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      Thread.sleep(300)
      println(s"[fixed] $name build=$tBuild plan=$tPlan " +
        s"exec=${execs.mkString(",")} jobs=${jobs.get} stages=${stagesN.get}")
    }
    spark.stop()
  }
}
