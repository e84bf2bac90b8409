package graft.tools

import graft.{GraftSession, SparkEntry}

/** Bench-shaped two-pass battery: runs the given queries as PASS 1
  * then PASS 2 (interleaved like Bench's full passes, unlike
  * TimeMany's consecutive reps) and prints both per-query times. The
  * pass-2 column shows what min-of-passes actually measures. Its old
  * question — does codegen-cache eviction make pass 2 compile again —
  * is answered: yes under Spark's 100-entry default (an 8-query pass
  * is ≈110 keys), so [[GraftSession]] sizes the cache at 512.
  * `runMain graft.tools.PassPair <sfDir> <q1,q2,...>`
  */
object PassPair {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val all = SparkEntry.queries
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).map { q =>
      all.keys.filter(n =>
        n == q || n.stripPrefix("q").takeWhile(_ != '_') == q.stripPrefix("q"))
        .toSeq match {
        case Seq(one) => one
        case _ => System.err.println(s"unknown/ambiguous '$q'"); sys.exit(2); ""
      }
    }
    val spark = GraftSession.local()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def pass(): Seq[Double] = names.map { name =>
      isolate()
      val t0 = System.nanoTime()
      all(name)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.toSeq
    val p1 = pass(); val p2 = pass(); val p3 = pass()
    println("[pass] name p1 p2 p3")
    names.indices.foreach { i =>
      println(f"[pass] ${names(i)}%-36s ${p1(i)}%.3f ${p2(i)}%.3f ${p3(i)}%.3f")
    }
    println(f"[pass] totals ${p1.sum}%.2f ${p2.sum}%.2f ${p3.sum}%.2f")
    spark.stop()
  }
}
