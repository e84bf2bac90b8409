package graft.tools

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Drives the `Profile` CLI body (`Profile.run`) once per mode on the
  * entry query, pins its name resolution and usage-error contract, and
  * keeps [[QueryTrace]] the only Spark listener in the sources. */
class ProfileSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** (exit code, stdout) of one CLI run. */
  private def profile(args: String*): (Int, String) = {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out)(Profile.run(args.toArray, spark))
    (code, out.toString("UTF-8"))
  }

  private def rows(stdout: String, prefix: String) =
    stdout.linesIterator.filter(_.startsWith(prefix)).toSeq

  test("reps: per-rep seconds, the warmest rep's stage table, min-of-N") {
    val (code, out) = profile("reps", dir, "q14_star_join", "2")
    assert(code == 0)
    assert(rows(out, "[reps] q14_star_join rep ").size == 2, out)
    assert(rows(out, "[stages] q14_star_join").size == 1, out)
    assert(rows(out, "[reps] sum-of-mins: ").size == 1, out)
  }

  test("passes: three bench-shaped passes per query") {
    val (code, out) = profile("passes", dir, "14")
    assert(code == 0)
    val row = rows(out, "[pass] q14_star_join")
    assert(row.size == 1 && row.head.split("\\s+").length == 5, out)
  }

  test("fixed: build, plan, executions and the last execution's jobs") {
    val (code, out) = profile("fixed", dir, "q14", "2")
    assert(code == 0)
    val row = rows(out, "[fixed] q14_star_join ")
    assert(row.size == 1, out)
    assert(row.head.matches(""".* exec=\d+,\d+ jobs=[1-9]\d* stages=\d+ rounds=\d+"""), out)
  }

  test("reps and fixed: the iterative operators' rounds per query") {
    // rounds are counted by Iterate's round tags: q33's dupClusters
    // runs at least its confirming round, q118's Hierarchy.flatten at
    // maxDepth 256 runs ceil(log2 256) = 8
    def rounds(out: String, prefix: String, name: String) =
      rows(out, s"$prefix $name").flatMap(l => """ rounds=(\d+)""".r.findFirstMatchIn(l))
        .map(_.group(1).toInt)
    val (c1, reps) = profile("reps", dir, "q33,q118", "1")
    val (c2, fixed) = profile("fixed", dir, "q33,q118", "1")
    assert(c1 == 0 && c2 == 0)
    for ((out, prefix) <- Seq(reps -> "[reps]", fixed -> "[fixed]")) {
      val q33 = rounds(out, prefix, "q33_dup_clusters")
      assert(q33.size == 1 && q33.head >= 1, out)
      assert(rounds(out, prefix, "q118_hierarchy_doubling") == Seq(8), out)
    }
  }

  test("plans: one formatted plan file per query") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-plans").resolve("sub")
    val (code, out) = profile("plans", dir, "q14_star_join", outDir.toString)
    assert(code == 0)
    assert(rows(out, "[plans] q14_star_join -> ").size == 1, out)
    val plan = java.nio.file.Files.readString(outDir.resolve("q14_star_join.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
  }

  test("plans: two constructions of one query print the same text") {
    // q101 carries a plan-time Bloom filter, printed by identity hash
    val (c1, first) = profile("plans", dir, "q101")
    val (c2, second) = profile("plans", dir, "q101")
    assert(c1 == 0 && c2 == 0)
    assert(first.contains("== Physical Plan =="), first)
    assert(first == second, s"first:\n$first\nsecond:\n$second")
  }

  test("PlanRuntime dumps and audits the plan that ran, in its final adaptive form") {
    val out = PlanRuntime.dump("q14_star_join", graft.SparkEntry.queries("q14_star_join")(spark, dir))
    assert(out.startsWith("== FINAL ==") && out.contains("isFinalPlan=true"), out)
    assert(!out.contains("isFinalPlan=false"), out)
    assert(out.linesIterator.toSeq.last.matches("""q14_star_join\s+scans=[1-9]\d* .*"""), out)
  }

  test("resolve: exact names and numeric ids; unknown and ambiguous ids are errors") {
    val names = Seq("q19_jaccard", "q1_a", "q190_x", "q21_p", "q21_q", "q3")
    assert(Profile.resolve(names, "q19_jaccard") == Right("q19_jaccard"))
    assert(Profile.resolve(names, "19") == Right("q19_jaccard"))
    assert(Profile.resolve(names, "q19") == Right("q19_jaccard"))
    assert(Profile.resolve(names, "q3") == Right("q3"))
    assert(Profile.resolve(names, "7").isLeft)
    val ambiguous = Profile.resolve(names, "21")
    assert(ambiguous.swap.exists(e => e.contains("q21_p") && e.contains("q21_q")), ambiguous)
    assert(profile("reps", dir, "nosuch")._1 == 2)
    assert(profile("plans", dir, "q14,q999999")._1 == 2)
  }

  test("usage errors return 2 and leave the session usable") {
    assert(profile("frobnicate", dir, "q14")._1 == 2)
    assert(profile("reps", dir)._1 == 2)
    assert(profile("reps", dir, "q14", "zero")._1 == 2)
    assert(!spark.sparkContext.isStopped, "Profile.run must never stop the session it was handed")
    assert(spark.range(3).count() == 3)
  }

  test("QueryTrace is the only SparkListener in the sources") {
    val listener = """(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val files = Seq("src/main", "src/test").flatMap { root =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val offenders = files
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/tools/QueryTrace.scala")))
      .filter(f => listener.findFirstIn(java.nio.file.Files.readString(f)).nonEmpty)
    assert(files.exists(_.endsWith("QueryTrace.scala")))
    assert(offenders.isEmpty,
      s"Spark listeners outside tools/QueryTrace.scala: ${offenders.mkString(", ")}")
  }

  test("QueryTrace counts no shuffle dependency of a failed map stage") {
    val trace = QueryTrace.attach(spark)
    try {
      intercept[Exception](trace.traced("failed-map-stage") {
        spark.sparkContext.parallelize(1 to 8, 2)
          .map(i => if (i > 0) throw new IllegalStateException("boom") else (i, i))
          .reduceByKey(_ + _).collect()
      })
      val g = trace.drain()("failed-map-stage")
      assert(g.jobs == 1 && g.stages.nonEmpty, g)
      assert(g.shuffleDeps.isEmpty, g)
    } finally trace.close()
  }
}
