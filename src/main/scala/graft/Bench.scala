package graft

import graft.tools.{Profile, QueryTrace}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (a bare .count() would let Catalyst prune most of the work),
  * and prints the driver-contract JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // warm the JVM/codegen paths once on the smallest SF so per-query
    // numbers measure the plan, not first-call JIT + classloading.
    Profile.warmUp(spark)

    // Two full passes, per-query MIN: this machine carries bursty
    // co-tenant load (r5/r6 artifacts were both falsified by isolated
    // re-runs; a single pass here recorded the same trivial query
    // anywhere from 1.5 s to 87 s depending on which spike it landed
    // under). A transient spike can inflate a query in one pass but
    // almost never the same query in both, so min-of-2 reports the
    // plan's cost, not the co-tenant's.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

    // Machine-speed calibration: SUSTAINED co-tenant load inflates BOTH
    // passes, beating min-of-N (r12's artifact read +22% vs r11 purely
    // from load — mpr 1.23 vs 1.12 — and the delta was only
    // attributable via local receipts). A FIXED synthetic workload
    // timed median-of-3 before the first and after the last pass gives
    // every artifact its own machine-speed index: round-over-round
    // consumers compare total/calib ratios, which cancels the co-tenant
    // term without any external receipt. Outside all timed windows.
    //
    // The workload has a CPU+shuffle term AND a disk term (fixed
    // parquet write + read-back): the r13 calib was CPU+shuffle only
    // and therefore BLIND to the driver-box disk contention that
    // inflated q147 6x (13.3 s vs a 2.1 s local receipt on a slower-
    // calib machine) with "contaminated": false — the index cannot
    // attribute what its workload never exercises.
    //
    // v2 (round 15): the TERMS are timed separately and both ride the
    // artifact beside a calib_version — r14 folded them into one
    // number, which silently broke round-over-round comparability (a
    // consumer normalizing r14/r13 totals by calib ratio compared
    // DIFFERENT workloads with nothing in-band saying so). The
    // cpu_shuffle term alone is the r13-comparable index; the sum is
    // the r14-comparable one; r15-forward carries both.
    def calibrate(): (Double, Double) = {
      import org.apache.spark.sql.functions._
      val diskDir = java.nio.file.Files
        .createTempDirectory("graft-calib-").toString
      try {
        val ts = (0 until 3).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          spark.range(0L, 20000000L, 1L, 32)
            .select(pmod(col("id") * 2654435761L, lit(1000003L)).as("k"),
              (col("id") % 8191).as("v"))
            .groupBy(col("k"))
            .agg(sum(col("v")).as("s"), count(lit(1)).as("c"),
              avg(col("v")).as("a"))
            .write.format("noop").mode("overwrite").save()
          val tCpu = (System.nanoTime() - t0) / 1e9
          // disk term: ~25 MB parquet through java.io.tmpdir — the
          // filesystem query-level scratch writes hit (q147's band
          // index lives there; this is the device whose contention
          // inflated r13's q147). Shuffle spills go to spark.local.dir
          // (tmpfs when GraftSession could claim /dev/shm), and THAT
          // device is already exercised by the shuffle term above — so
          // the two terms cover both disks the bench actually touches
          val t1 = System.nanoTime()
          spark.range(0L, 2000000L, 1L, 32)
            .select(col("id"),
              pmod(col("id") * 2654435761L, lit(1000003L)).as("k"))
            .write.mode("overwrite").parquet(s"$diskDir/t")
          spark.read.parquet(s"$diskDir/t").agg(sum(col("k")))
            .write.format("noop").mode("overwrite").save()
          (tCpu, (System.nanoTime() - t1) / 1e9)
        }
        // per-term medians: each term is its own machine-speed index
        (ts.map(_._1).sorted.apply(1), ts.map(_._2).sorted.apply(1))
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(diskDir))
      }
    }
    val calibPre = try calibrate() catch { case _: Throwable => (-1.0, -1.0) }

    // ONE isolation primitive shared by every timing site (the passes,
    // the targeted reruns, ladder rungs, the split ladder): drop cache
    // entries and straggler persisted/checkpointed blocks so no timer
    // measures a predecessor's storage state (r6 recorded q33 at 2.5x
    // its isolated cost for exactly this reason).
    def isolate(): Unit = Profile.isolate(spark)
    // min over n isolated timed samples — the ladder/rerun primitive
    def minOfN(n: Int)(f: => Unit): Double =
      (0 until n).map { _ =>
        isolate()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }.min

    // Per-query shuffle-write volume (pass 1 only): the scale-limiting
    // resource a wall-clock number can't show — a query that's fast at
    // sf0.1 but shuffles its whole input is the one that dies at 100 TB.
    // Pass 1 runs each query in its own job group; one trace drain after
    // the pass, outside every timed window, reads the volumes.
    val shuffleMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def runPass(recordShuffle: Boolean = false): (Seq[(String, Double)], Double) = {
      var loadMax = osBean.getSystemLoadAverage
      val trace = if (recordShuffle) Some(QueryTrace.attach(spark)) else None
      val times = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        isolate()
        loadMax = math.max(loadMax, osBean.getSystemLoadAverage)
        def run() = Profile.timeNoop(fn(spark, sfDir))
        val dt =
          try trace.fold(run())(_.traced(name)(run()))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
          }
        // -1 marks a failed query so the JSON can't mistake it for fast
        name -> dt
      }
      trace.foreach { t =>
        val groups = try t.drain() finally t.close()
        times.foreach { case (name, dt) =>
          if (dt >= 0) shuffleMb(name) = groups.get(name).fold(0L)(_.shuffleWriteBytes) / 1e6
        }
      }
      (times, loadMax)
    }
    // Contamination guard: min-of-2 is beaten by SUSTAINED co-tenant
    // load covering both passes (r7's recorded artifact shipped one
    // query at 7.5x its isolated cost that way, with pass totals
    // 685/480 s — a 1.43x divergence). Two signals, both recorded in
    // the artifact with the full per-pass evidence:
    //   1. pass-total divergence: the two best full-pass totals differ
    //      >1.35x (catches the observed 1.43x case; a strict 1.5x
    //      would have missed it);
    //   2. per-query dispersion: the MEDIAN over non-trivial queries
    //      (min >= 0.2 s) of max/min across the two best passes
    //      exceeds 2x — sustained load inflates both passes so the
    //      totals can agree while individual queries scatter wildly.
    // Divergent totals trigger one extra full pass (min-of-3); if the
    // two cleanest passes still disagree, "contaminated": true tells
    // the consumer not to bank per-query numbers without an isolated
    // re-check (`graft.tools.Profile reps`).
    //
    // Pre-flight load gate (r14 lesson: pass 1 ran at 1-minute load
    // 12.02, and all ~170 s of it were PAID FOR before the
    // extra-pass trigger discarded it): before each timed pass, check
    // the load; above nCpu/4, wait bounded and re-check; still hot →
    // proceed FLAGGED, so the artifact says the pass started
    // contaminated instead of charging a wasted pass to find out.
    // host cores drive the pre-flight load threshold (the OS load
    // average is a host-wide number); the ARTIFACT's n_cpu reports the
    // HONORED core count (SPARK_GRAFT_CPUS → master local[N]) — the
    // r20 8-core driver run printed "n_cpu":32 because this field used
    // host cores, which poisons any scaling analysis keyed on it.
    val hostCpu = osBean.getAvailableProcessors
    val nCpu = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(hostCpu)
    val preflights =
      scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Boolean)]
    def gatedPass(recordShuffle: Boolean = false) = {
      preflights += Bench.preflightGate(() => osBean.getSystemLoadAverage,
        threshold = hostCpu / 4.0, maxWaits = Bench.preflightMaxWaits,
        sleep = Thread.sleep, waitMs = Bench.preflightWaitMs)
      runPass(recordShuffle)
    }
    var passRuns = Vector(gatedPass(recordShuffle = true), gatedPass())
    def totals = passRuns.map(_._1.map(_._2).filter(_ >= 0).sum)
    def divergent(ts: Seq[Double]): Boolean = {
      val s = ts.sorted
      s.nonEmpty && s.head > 0 && s(math.min(1, s.size - 1)) > s.head * 1.35
    }
    val extraPass = divergent(totals)
    if (extraPass) passRuns :+= gatedPass()
    val passes = passRuns.map(_._1)
    // the two passes with the smallest totals = the cleanest evidence
    val bestTwo = passes.zip(totals).sortBy(_._2).take(2).map(_._1)
    val pairRatios = bestTwo.head.indices.flatMap { i =>
      val ts = bestTwo.map(_(i)._2)
      if (ts.forall(_ >= 0.2)) Some(ts.max / ts.min) else None
    }.sorted
    val medianPairRatio =
      if (pairRatios.isEmpty) 1.0 else pairRatios(pairRatios.size / 2)
    val contaminated = divergent(totals.sorted.take(2)) || medianPairRatio > 2.0

    // fresh timed samples of ONE query under the standard isolation —
    // the re-measure primitive for both targeted gates below
    def timeQuery(name: String, n: Int): Seq[Double] = {
      val fn = SparkEntry.queries(name)
      (0 until n).map { _ => isolate(); Profile.timeNoop(fn(spark, sfDir)) }
    }
    // Per-query pass-disagreement gate (r13 lesson: min-of-N KEEPS a
    // contaminated value when EVERY pass is hit — q147 shipped 13.3 s
    // from passes 28.4/13.3 while its committed local receipt on a
    // slower-calib machine read 2.1 s, and neither the total-divergence
    // check nor the MEDIAN pair ratio can trip on one query). Any query
    // whose two best-pass times disagree > 3x (both non-trivial) is
    // re-timed fresh min-of-2 after the passes, and the artifact
    // records the rerun samples so the correction is auditable.
    val rerunNames = bestTwo.head.indices.flatMap { i =>
      val name = bestTwo.head(i)._1
      val ts = bestTwo.map(_(i)._2)
      if (ts.forall(_ >= 0.2) && ts.max / ts.min > Bench.rerunPairRatioGate)
        Some(name)
      else None
    }
    val reruns: Map[String, Seq[Double]] = rerunNames.map { name =>
      name -> (try timeQuery(name, 2)
        catch { case e: Throwable =>
          System.err.println(s"[bench] rerun $name failed: ${e.getMessage}")
          Seq.empty
        })
    }.toMap
    // min over passes AND any rerun samples; a failure in ANY pass
    // stays flagged
    val results = passes.head.indices.map { i =>
      val name = passes.head(i)._1
      val ts = passes.map(_(i)._2) ++ reruns.getOrElse(name, Seq.empty)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val rerunsJson = reruns.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + v.map(t => Bench.num(t, 3)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val passTotals = totals
    // (qs/failed/total move BELOW the ladder: its exponent gate can
    // re-time a contested bench-rung value, and the headline per-query
    // map must carry the corrected min, not the contaminated one)
    // semantic-dedup pruning evidence (q71/q72 production regime):
    // candidates vs all-pairs, so the 100 TB pruning claim is auditable
    // from the artifact each round, not only inside
    // SemanticDedupScaleSpec. Outside the timed window.
    val auxMap =
      try Some(graft.queries.LlmQueries.semanticPruningAux(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] pruning aux failed: ${e.getMessage}")
        None
      }
    val aux = auxMap.map(_.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}"))
      .getOrElse("""{"error":true}""")
    // (aux rides ONLY the full-evidence forms since the registry
    // passed 160 queries: at 161 entries the compact line's 1-decimal
    // seconds overflowed the tail window by exactly the aux object's
    // width — per-query seconds are the driver contract, the pruning
    // counts are duplicated in BENCH_FULL.json + stderr)
    // in-memory transport throughput (BASELINE.md headline: GoChannel
    // 315,776 pub / 138,743 sub msg/s at 16 B / 16 CPU)
    // (full, compact) forms: same numbers, long keys for the evidence
    // file, short keys sized for the compact stdout line's 2KB budget
    // each path runs TWICE (StreamingBench.paired): best-of-2 rates +
    // per-metric pair ratios + a streaming contamination verdict, the
    // same defense the batch passes carry — without it the r10 12-24%
    // streaming dip vs r9 was unattributable between load and code
    val (streaming, streamingCompact) =
      try {
        // warmup per path first: pass 1 of a cold path pays JIT +
        // classloading, which would masquerade as a ~1.3-1.5x pair
        // ratio and pollute the contamination verdict (observed: warm
        // memory path paired at 1.01-1.06, cold file/sql at 1.3-1.5).
        // The SQL warm pass runs at FULL measured size: the small
        // (2x500) warm pass left r11's sql pair ratios at 2.45/3.10 —
        // Derby's page cache, lock manager, and conglomerate growth
        // only reach steady state at the measured volume, so anything
        // smaller warms the JVM but not the database
        graft.streaming.StreamingBench.run(spark, nBatches = 2, perBatch = 2000)
        graft.streaming.StreamingBench.runFile(spark, nBatches = 2, perBatch = 2000)
        graft.streaming.StreamingBench.runSql(spark)
        graft.streaming.StreamingBench.runSqlEpochRate(spark) // full-size warm (the Derby rule)
        val m = graft.streaming.StreamingBench.paired(
          graft.streaming.StreamingBench.run(spark))
        val f = graft.streaming.StreamingBench.paired(
          graft.streaming.StreamingBench.runFile(spark))
        val s = graft.streaming.StreamingBench.paired(
          graft.streaming.StreamingBench.runSql(spark))
        val e = graft.streaming.StreamingBench.pairedScalar(
          graft.streaming.StreamingBench.runSqlEpochRate(spark))
        graft.streaming.StreamingBench.evidenceJson(m, f, s, e)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming bench failed: ${e.getMessage}")
        ("""{"error":true}""", """{"error":true}""")
      }
    // ---- scale ladder (per-query scaling exponents) ----
    // The 100 TB claims rest on plan-shape specs; this is the empirical
    // slope behind them. The 10 most expensive queries (by min-of-pass
    // seconds this run) re-run at every testdata scale factor and the
    // artifact reports the log-log slope between the two largest SFs:
    //   exponent = log(t_big / t_small) / log(sf_big / sf_small)
    // ~1 = linear scaling, ~0 = overhead-dominated (too small to
    // measure), >>1 = the super-linear scale-killer that sf0.1 alone
    // cannot see (SURVEY §7.4.6's design rule made measurable). Times
    // are min-of-2 warm at the smaller SFs; the bench SF reuses this
    // run's min-of-passes. Outside the timed window.
    // bench-rung re-times from the exponent gate: the corrected min
    // must reach the headline per-query map (q147's r13 13.3 s would
    // have shipped uncorrected otherwise)
    val ladderCorrections = scala.collection.mutable.Map.empty[String, Double]
    val ladder = try {
      val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      val sfs = Seq("sf0.001" -> 0.001, "sf0.01" -> 0.01, "sf0.1" -> 0.1)
        .filter { case (d, _) => java.nio.file.Files.isDirectory(parent.resolve(d)) }
      val benchSf = sfDir.split('/').last
      val top = results.filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1)
      if (sfs.size < 2 || !sfs.exists(_._1 == benchSf)) None
      else Some(top.flatMap { name =>
        // per-query try: one query failing at one SF must not discard
        // the other nine queries' measured exponents
        try {
          val fn = SparkEntry.queries(name)
          // ONE unmeasured warm run at the smallest rung before any
          // timed rung: rung-1 otherwise pays the query's plan-specific
          // JIT/codegen/model-fit cost and the ladder reads 14.3 s at
          // sf0.001 next to 2.0 s at sf0.01 (r11's q58) — a nonsense
          // negative slope polluting the monotone-rung evidence. The
          // artifact records warm_runs so the hygiene is auditable.
          locally {
            val warmDir = parent.resolve(sfs.head._1).toString
            isolate()
            (0 until Bench.ladderWarmRuns).foreach { _ =>
              fn(spark, warmDir).write.format("noop").mode("overwrite").save()
            }
          }
          // min-of-3 per rung: the r12 ladder still showed one rung-1
          // anomaly (q81: 3.45 s at sf0.001 vs 0.53 s at 10× the data)
          // the single warm pass + min-of-2 didn't absorb — a third
          // sample makes a double co-tenant hit on the same rung
          // vanishingly unlikely
          def timeRung(d: String): Double = {
            val dir = parent.resolve(d).toString
            minOfN(Bench.ladderRungRuns) {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
            }
          }
          val times0 = sfs.map { case (d, sf) =>
            if (d == benchSf) (d, sf, results.find(_._1 == name).get._2)
            else (d, sf, timeRung(d))
          }
          def expOf(ts: Seq[(String, Double, Double)]): Double = {
            val Seq((_, sfA, tA), (_, sfB, tB)) = ts.takeRight(2)
            math.log(tB / tA) / math.log(sfB / sfA)
          }
          // Exponent gate (r13 lesson: q147's driver ladder printed
          // exponent 1.3 off a disk-contention hit on the bench rung
          // and NOTHING tripped — a super-linear exponent is either a
          // real scale-killer or a contaminated rung, and both demand
          // a second look, not a silent artifact row). Over the gate:
          // re-time the two largest rungs fresh (min with the existing
          // samples — the bench rung gets fresh samples instead of
          // trusting the pass times) and recompute; still over →
          // "suspect": true in the artifact.
          val exp0 = expOf(times0)
          val (times, exp, suspect) =
            if (exp0 <= Bench.ladderExponentGate) (times0, exp0, false)
            else {
              val retimed = times0.zipWithIndex.map { case ((d, sf, t), i) =>
                if (i >= times0.size - 2) {
                  val fresh = math.min(t, timeRung(d))
                  if (d == benchSf && fresh < t)
                    ladderCorrections(name) = fresh
                  (d, sf, fresh)
                } else (d, sf, t)
              }
              val e = expOf(retimed)
              (retimed, e, e > Bench.ladderExponentGate)
            }
          Some((name, times.map(_._3), exp, suspect))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ladder $name failed: ${e.getMessage}")
          None
        }
      })
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scale ladder failed: ${e.getMessage}")
      None
    }
    // ---- q147 split ladder: frozen-index BUILD vs INCREMENTAL join ----
    // The 100 TB claim behind incremental dedup is "accepted text is
    // never re-read" — previously only a plan-shape pin (PlanShapeSpec)
    // plus ONE combined wall number. Timing the two halves apart makes
    // the incremental path's scaling a measured number: the build rung
    // scales with the frozen corpus, the incremental rung with the new
    // slice + a band-row join, so its exponent must sit at or below the
    // combined query's. Same hygiene as the main ladder (warm at the
    // smallest rung, min-of-ladderRungRuns per rung); per rung the
    // build runs first so the incremental half always joins the index
    // built at ITS OWN scale.
    val splitLadder = try {
      val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      val sfs = Seq("sf0.001" -> 0.001, "sf0.01" -> 0.01, "sf0.1" -> 0.1)
        .filter { case (d, _) => java.nio.file.Files.isDirectory(parent.resolve(d)) }
      if (sfs.size < 2) None
      else {
        def buildAt(dir: String): Unit =
          graft.queries.LlmQueries.q147LadderBuild(spark, dir)
        def incrAt(dir: String): Unit =
          graft.queries.LlmQueries.q147LadderIncr(spark, dir)
            .write.format("noop").mode("overwrite").save()
        locally { // warm both halves (JIT/codegen), unmeasured
          val warmDir = parent.resolve(sfs.head._1).toString
          isolate()
          buildAt(warmDir); incrAt(warmDir)
        }
        val perRung = sfs.map { case (d, sf) =>
          val dir = parent.resolve(d).toString
          val b = minOfN(Bench.ladderRungRuns)(buildAt(dir))
          val i = minOfN(Bench.ladderRungRuns)(incrAt(dir))
          (dir, sf, b, i)
        }
        def expFrom(ts: Seq[(Double, Double)]): Double = {
          val Seq(a, b) = ts.takeRight(2)
          math.log(b._2 / a._2) / math.log(b._1 / a._1)
        }
        // same gate discipline as the main ladder: an over-gate
        // exponent gets the two largest rungs RE-TIMED (min-folded)
        // before the suspect flag is earned — a single co-tenant hit
        // on one rung must not ship as a verified scale-killer. The
        // incremental half's retime rebuilds the index at that rung
        // first (unmeasured): the scratch path holds whichever rung
        // built last, and joining another scale's index would measure
        // the wrong work.
        def entry(nm: String,
            sel: ((String, Double, Double, Double)) => Double,
            retime: String => Double) = {
          val ts0 = perRung.map(r => (r._2, sel(r)))
          val e0 = expFrom(ts0)
          if (e0 <= Bench.ladderExponentGate)
            (nm, ts0.map(_._2), e0, false)
          else {
            val ts = perRung.zipWithIndex.map { case (r, i) =>
              if (i >= perRung.size - 2) (r._2, math.min(sel(r), retime(r._1)))
              else (r._2, sel(r))
            }
            val e = expFrom(ts)
            (nm, ts.map(_._2), e, e > Bench.ladderExponentGate)
          }
        }
        Some(Seq(
          entry("q147b_index_build", _._3,
            dir => minOfN(Bench.ladderRungRuns)(buildAt(dir))),
          entry("q147i_incremental_join", _._4, { dir =>
            isolate(); buildAt(dir)
            minOfN(Bench.ladderRungRuns)(incrAt(dir))
          })))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] split ladder failed: ${e.getMessage}")
      None
    }
    val ladderAll = (ladder, splitLadder) match {
      case (Some(a), Some(b)) => Some(a ++ b)
      case (a, b) => a.orElse(b)
    }
    val scaleLadderJson = Bench.scaleLadderJson(ladderAll)
    // compact line carries the top-5 exponents (tail budget: all 10
    // with 2-decimal seconds would overflow the capture window); the
    // full ladder with raw times is in BENCH_FULL.json
    val scaleExpCompact = ladderAll.map(_.take(5).map { case (n, _, e, _) =>
      "\"" + n.takeWhile(_ != '_').stripPrefix("q") + "\":" + Bench.num(e, 2)
    }.mkString("{", ",", "}")).getOrElse("""{"error":true}""")

    // headline per-query map: min over passes, targeted reruns, and
    // any exponent-gate bench-rung retime
    val finalResults = results.map { case (n, v) =>
      n -> (if (v >= 0) math.min(v, ladderCorrections.getOrElse(n, v)) else v)
    }
    val qs = finalResults.map { case (k, v) => "\"" + k + "\":" + Bench.num(v, 3) }
      .mkString("{", ",", "}")
    val failed = finalResults.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = finalResults.map(_._2).filter(_ >= 0).sum

    // machine-load context: 1-minute OS load average (and CPU count)
    // so a contaminated run is visible IN the artifact — r5/r6 both
    // recorded numbers later falsified as co-tenant load noise
    val loadAvg = osBean.getSystemLoadAverage
    val calibPost = try calibrate() catch { case _: Throwable => (-1.0, -1.0) }
    val calibJson = Bench.calibSumJson(calibPre, calibPost)
    val calibUnstable = Bench.calibDisagree(calibPre, calibPost)
    val preflightJson = preflights.map { case (l, w, hot) =>
      s"""{"load":${Bench.num(l, 2)},"waits":$w,"hot":$hot}"""
    }.mkString("[", ",", "]")
    val preflightHot = preflights.count(_._3)
    val passTotalsJson = passTotals.map(t => Bench.num(t, 3)).mkString("[", ",", "]")
    val passQueriesJson = passes.map(p =>
      p.map { case (k, v) => "\"" + k + "\":" + Bench.num(v, 3) }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    val passLoadJson = passRuns.map(r => Bench.num(r._2, 2)).mkString("[", ",", "]")
    val shuffleJson = shuffleMb
      .map { case (k, v) => "\"" + k + "\":" + Bench.num(v, 1) }.mkString("{", ",", "}")

    // ---- artifact layout (tail-safety) ----
    // The driver keeps only the TRAILING ~2 KB of this process's
    // output (BENCH_r8/r9 both shipped with the per-query seconds map
    // truncated away, leaving only the deterministic shuffle-MB map in
    // the visible tail). So: the FULL evidence line goes to
    // BENCH_FULL.json (a file, no tail limit) and to stderr for humans;
    // stdout gets ONE compact JSON line sized to fit the capture window
    // entirely — per-query wall SECONDS keyed by the short query id
    // ("q01" for "q01_pricing_summary"; every numeric prefix is unique,
    // asserted by BenchArtifactSpec) with the contamination verdict and
    // summary fields in front of it.
    val fullLine = s"""{"metric":"total","value":${Bench.num(total, 3)},"unit":"sec","queries":$qs,"failed":$failed,"pass_totals":$passTotalsJson,"pass_queries":$passQueriesJson,"pass_load_max_1m":$passLoadJson,"preflight":$preflightJson,"extra_pass":$extraPass,"median_pair_ratio":${Bench.num(medianPairRatio, 2)},"contaminated":$contaminated,"calib_sec":$calibJson,${Bench.calibTermsFullJson(calibPre, calibPost)},"calib_unstable":$calibUnstable,"reruns":$rerunsJson,"shuffle_write_mb":$shuffleJson,"aux":$aux,"streaming":$streaming,"scale_ladder":$scaleLadderJson,"anchors":$anchorsJson,"load_avg_1m":${Bench.num(loadAvg, 2)},"n_cpu":$nCpu,"host_cpu":$hostCpu,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }
    // full line to stderr FIRST and flushed, so in a merged
    // stdout+stderr capture the compact line below is what the
    // trailing window sees, never the full line's own tail
    System.err.println(fullLine)
    System.err.flush()

    println(Bench.compactLine(finalResults, failed, total, extraPass,
      medianPairRatio, contaminated, streamingCompact,
      scaleExpCompact, loadAvg, sfDir, calibJson,
      rerunCount = reruns.size,
      calibJsonV2 = Bench.calibArrayV2Json(calibPre, calibPost),
      preflightHot = preflightHot,
      calibUnstable = calibUnstable))
    Console.out.flush()
    spark.stop()
  }

  /** The one stdout line, built to survive a trailing-2KB capture:
    * short query keys, 2-decimal seconds, bulky per-pass evidence left
    * to BENCH_FULL.json. Factored out so BenchArtifactSpec can pin the
    * size budget and key uniqueness without running the benchmark. */
  /** Oracle-anchor queries: by-design-expensive all-pairs/degenerate
    * regimes kept ONLY to anchor the correctness of the pruned
    * production paths (q44 exact all-pairs twin, q49 low-threshold SRP
    * composition anchor, q58 its k-means twin). Flagged in both
    * artifact forms so perf tracking separates them from production
    * paths — at r10 these three were 12% of total bench wall and would
    * otherwise dominate drift alerts as the registry grows. */
  private[graft] val anchorQueries: Seq[String] =
    Seq("q44_semantic_dedup", "q49_semantic_dedup_scale",
      "q58_semantic_dedup_kmeans")
  private[graft] def anchorsJson: String =
    anchorQueries.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Unmeasured runs of each ladder query at the smallest rung before
    * its timed rungs (warm-up hygiene; recorded in the artifact so the
    * evidence channel is auditable — BenchArtifactSpec pins it). */
  private[graft] val ladderWarmRuns = 1

  /** Timed samples per non-bench ladder rung, min taken (r12's q81
    * rung-1 anomaly showed min-of-2 + one warm run still lets a
    * co-tenant double-hit through; BenchArtifactSpec pins >= 3). */
  private[graft] val ladderRungRuns = 3

  /** Per-query pass-disagreement gate: min-of-N keeps a contaminated
    * value when EVERY pass is hit (r13 q147: passes 28.4/13.3 s vs a
    * 2.1 s local receipt, nothing tripped) — over this ratio the query
    * is re-timed fresh and the rerun recorded in the artifact. */
  private[graft] val rerunPairRatioGate = 3.0

  /** Ladder super-linear exponent gate: an exponent above this is
    * either a real scale-killer or a contaminated rung — the two
    * largest rungs are re-timed, and a still-over entry carries
    * "suspect": true instead of shipping silently (r13 shipped q147 at
    * exponent 1.3 ungated). */
  private[graft] val ladderExponentGate = 1.1

  /** Calib pass-disagreement gate: the pre and post calibration runs
    * measure the SAME fixed workload, so a term-wise ratio over this is
    * co-tenant contamination of the machine-speed index itself (r19's
    * committed artifact had cpu_shuffle terms 1.411 vs 10.301 — 7.3×)
    * and every total/calib normalization that round is suspect. Over
    * the gate the artifact carries `calib_unstable` (compact: `cu`,
    * alarm semantics — a true verdict rides EVERY rung like
    * `contaminated:true`), so the driver's single glance at the compact
    * line catches it without opening BENCH_FULL.json. */
  private[graft] val calibDisagreeGate = 2.0

  /** Term-wise pre/post disagreement: true when either calib term's
    * max/min ratio exceeds the gate. A failed term (-1) or a
    * degenerate ~0 term can't be judged and never flags — a failed
    * calibration is already visible as the -1 itself. */
  private[graft] def calibDisagree(pre: (Double, Double),
      post: (Double, Double), gate: Double = calibDisagreeGate): Boolean = {
    def termOver(a: Double, b: Double): Boolean =
      a > 1e-9 && b > 1e-9 && math.max(a, b) / math.min(a, b) > gate
    termOver(pre._1, post._1) || termOver(pre._2, post._2)
  }

  /** Calibration schema version. v1 (≤ r13): CPU+shuffle workload
    * only. Unversioned r14: CPU+shuffle AND disk folded into one
    * number — r14/r13 calib ratios silently compared different
    * workloads. v2 (r15-forward): the two terms ride the artifact
    * separately plus this version field; the r13-comparable index is
    * the cpu_shuffle term, the r14-comparable one is the sum. */
  private[graft] val calibVersion = 2

  /** Bounded pre-flight wait before a timed pass: up to `maxWaits` ×
    * `waitMs` (80 s total at the defaults) — cheap against the ~170 s
    * a fully-contaminated pass costs before the extra-pass trigger
    * detects it (r14 pass 1, load 12.02). */
  private[graft] val preflightMaxWaits = 4
  private[graft] val preflightWaitMs = 20000L

  /** Pre-flight load gate: poll `load` until it is at or under
    * `threshold` or `maxWaits` waits are spent; returns (final load,
    * waits taken, still-hot). A still-hot pass PROCEEDS — the bench
    * must terminate on a permanently busy box — but the artifact
    * carries the flag, so the contamination is known before any pass
    * total can reveal it. */
  private[graft] def preflightGate(load: () => Double, threshold: Double,
      maxWaits: Int, sleep: Long => Unit, waitMs: Long): (Double, Int, Boolean) = {
    var l = load()
    var waits = 0
    while (l > threshold && waits < maxWaits) {
      sleep(waitMs); waits += 1; l = load()
    }
    (l, waits, l > threshold)
  }

  private def sumTerm(t: (Double, Double)): Double =
    if (t._1 < 0 || t._2 < 0) -1.0 else t._1 + t._2

  /** The summed (r14-comparable) calib index — the non-droppable
    * `calib`/`calib_sec` value both artifact forms carry. */
  /** ROOT-locale numeric rendering: every number on the bench artifacts
    * must be '.'-decimal JSON regardless of the JVM's default locale —
    * a comma-decimal locale (de_DE) would otherwise emit "mpr":1,23 and
    * break the driver's parse (the r17 ADVICE class, swept repo-wide
    * here: the first fix covered only the per-query map). */
  private[graft] def num(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.$decimals" + "f", Double.box(v))

  private[graft] def calibSumJson(pre: (Double, Double),
      post: (Double, Double)): String =
    s"""[${num(sumTerm(pre), 3)},${num(sumTerm(post), 3)}]"""

  /** Full-evidence split-term fields (see [[calibVersion]]). */
  private[graft] def calibTermsFullJson(pre: (Double, Double),
      post: (Double, Double)): String =
    s""""calib_terms":{"cpu_shuffle":[${num(pre._1, 3)},${num(post._1, 3)}],""" +
      s""""disk":[${num(pre._2, 3)},${num(post._2, 3)}]},""" +
      s""""calib_version":$calibVersion"""

  /** Compact-line v2 calib array: `[sumPre, sumPost, cpuPre, cpuPost,
    * version]` — elements 0-1 keep the v1/r14 positions (old consumers
    * unaffected), 2-3 are the cpu_shuffle term (r13-comparable), the
    * LAST element is the integer version marker, and the disk term is
    * the difference (explicit in BENCH_FULL.json's `calib_terms`).
    * Width discipline: sums at 2 decimals, cpu terms at 1 — the whole
    * v2 extension costs 8 chars where a separate-keys form cost 41
    * and silently degraded per-query seconds to whole numbers (the
    * driver-contract regression the degradation ladder exists to
    * prevent); a ~±0.05 s index on a multi-second workload is well
    * inside the co-tenant noise the ratio is used to cancel, and the
    * 3-decimal values ride BENCH_FULL.json. */
  private[graft] def calibArrayV2Json(pre: (Double, Double),
      post: (Double, Double)): String =
    s"""[${num(sumTerm(pre), 2)},${num(sumTerm(post), 2)},""" +
      s"""${num(pre._1, 1)},${num(post._1, 1)},$calibVersion]"""

  /** scale_ladder JSON builder, factored so BenchArtifactSpec pins the
    * shape (warm-run evidence + per-query times/exponent + the
    * suspect flag for a still-super-linear entry after re-timing)
    * without running the benchmark. */
  private[graft] def scaleLadderJson(
      ladder: Option[Seq[(String, Seq[Double], Double, Boolean)]]): String =
    ladder.map { l =>
      val qs = l.map { case (n, ts, e, suspect) =>
        "\"" + n + "\":{\"times\":" +
          ts.map(t => num(t, 3)).mkString("[", ",", "]") +
          s""","exponent":${num(e, 2)}""" +
          (if (suspect) ""","suspect":true}""" else "}")
      }.mkString("{", ",", "}")
      s"""{"warm_runs":$ladderWarmRuns,"rung_runs":$ladderRungRuns,""" +
        s""""exponent_gate":$ladderExponentGate,"queries":$qs}"""
    }.getOrElse("""{"error":true}""")

  private[graft] def compactLine(
      results: Seq[(String, Double)], failed: String, total: Double,
      extraPass: Boolean, medianPairRatio: Double, contaminated: Boolean,
      streaming: String, scaleExp: String, loadAvg: Double,
      sfDir: String, calibJson: String = "[-1.000,-1.000]",
      rerunCount: Int = 0, calibJsonV2: String = "",
      preflightHot: Int = 0, calibUnstable: Boolean = false): String = {
    // keys are the bare query NUMBERS ("01" = q01_…): the 'q' prefix
    // carried no information and cost one char × |queries| against the
    // tail budget; full names live in BENCH_FULL.json
    def qsJson(decimals: Int): String = results
      .map { case (k, v) =>
        // LOSSLESS shrink after rounding: strip redundant trailing
        // zeros ("9.00" → "9", "0.50" → "0.5") — the number is
        // unchanged, and at 184 registered queries the bought-back
        // chars are what keep per-query decimals (and the calib v2
        // extension) on the line instead of falling down the ladder
        // ROOT locale: the default-locale format under a comma-decimal
        // locale yields "9,00" — invalid JSON on the compact line, and
        // silently bypassing the '.'-keyed zero-strip below
        val s = String.format(java.util.Locale.ROOT,
          s"%.${decimals}f", Double.box(v))
        val num =
          if (s.contains('.'))
            s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
          else s
        "\"" + k.takeWhile(_ != '_').stripPrefix("q") + "\":" + num
      }.mkString("{", ",", "}")
    val sfShort = sfDir.split('/').last // full path lives in BENCH_FULL.json
    // bookkeeping keys compressed for the tail budget (long forms in
    // BENCH_FULL.json): ep = extra_pass (only when true), mpr =
    // median_pair_ratio, sx = scale-ladder exponents (top 5; all 10 +
    // raw times in the full file), load = load_avg_1m. "failed" rides
    // only when non-empty; n_cpu is static context and lives only in
    // BENCH_FULL.json. "contaminated" and the driver-contract fields
    // (metric/value/unit/queries/sf) keep their full names — and on
    // the LEAN rungs a clean run's "contaminated":false is OMITTED
    // (omission-means-false, the same convention ep/rr/pf/failed
    // already use; a true verdict always rides, on every rung), so a
    // consumer must treat a missing key as false, never as unknown.
    // BENCH_FULL.json carries the flag unconditionally.
    def line(qs: String, withStreaming: Boolean, withSx: Boolean,
        withCalibV2: Boolean = true, lean: Boolean = false,
        alarmsLast: Boolean = false): String = {
      val failedPart = if (failed == "[]") None else Some(s""""failed":$failed""")
      // the lean floor drops the conditional flags + load (ALL
      // duplicated with full keys in BENCH_FULL.json) so per-query
      // numbers never have to
      val epPart = if (extraPass && !lean) Some(""""ep":true""") else None
      // rr = count of pass-disagreement reruns (samples in BENCH_FULL
      // "reruns"); omitted when zero, like ep/failed
      val rrPart = if (rerunCount > 0 && !lean) Some(s""""rr":$rerunCount""") else None
      // pf = count of passes that started hot despite the pre-flight
      // wait (details in BENCH_FULL "preflight"); omitted when zero
      val pfPart = if (preflightHot > 0 && !lean) Some(s""""pf":$preflightHot""") else None
      val streamingPart =
        if (withStreaming) Some(s""""streaming":$streaming""") else None
      val sxPart = if (withSx) Some(s""""sx":$scaleExp""") else None
      // calib is NON-droppable like mpr/contaminated: it is the
      // machine-speed index that makes round-over-round totals
      // comparable under different co-tenant load (divide by it).
      // The v2 form appends the split terms + version to the SAME
      // array (see calibArrayV2Json); on a registry too fat for the
      // 16 extra chars the ladder falls back to the 2-element v1 form
      // BEFORE per-query decimals pay for it. The lean floor keeps
      // the v1 VALUES but zero-strips them ([-1.000,-1.000] →
      // [-1,-1]) — lossless, like the per-query strip.
      val calibPart = {
        val useV2 = withCalibV2 && calibJsonV2.nonEmpty
        val base = if (useV2) calibJsonV2 else calibJson
        // the zero-strip is string-blind, safe ONLY on the v1 form (a
        // pure numeric array): guard on !useV2 so a future v2 element
        // carrying a non-numeric token ending in ".x0" before ','/']'
        // can never be corrupted by it — today lean always rides v1,
        // but line() accepts lean=true with withCalibV2=true
        val stripped =
          if (lean && !useV2)
            base.replaceAll("(\\.\\d*?)0+(?=[,\\]])", "$1")
              .replaceAll("\\.(?=[,\\]])", "")
          else base
        Some(s""""calib":$stripped""")
      }
      val loadPart = if (lean) None else Some(s""""load":${num(loadAvg, 2)}""")
      // on the lean rungs a CLEAN run drops "contaminated":false —
      // omission-means-false is already this line's convention (ep/
      // rr/pf/failed); a contaminated=true verdict ALWAYS rides, on
      // every rung: that is the alarm the flag exists for
      val contaminatedPart = if (lean && !contaminated) None
        else Some(s""""contaminated":$contaminated""")
      // cu = calib_unstable (pre/post calib terms disagree beyond the
      // calibDisagreeGate — the machine-speed index itself is
      // contaminated, so total/calib normalization is suspect). Alarm
      // semantics: a TRUE verdict rides every rung, false is omitted
      // everywhere on the compact line (omission-means-false);
      // BENCH_FULL.json carries calib_unstable unconditionally.
      val cuPart = if (calibUnstable) Some(""""cu":true""") else None
      // lean also slims the TOTAL to 1 decimal (zero-stripped): on a
      // ~150 s total the lost milliseconds are noise, and the 2-4
      // chars are per-query decimals at the 188-query registry size
      val valuePart =
        if (!lean) num(total, 3)
        else {
          val s = num(total, 1)
          if (s.endsWith(".0")) s.dropRight(2) else s
        }
      // Driver-contract head, in the DOCUMENTED field order —
      // {"metric", "value", "unit", "queries", "sf"} — so a
      // prefix/order-sensitive parser matches it; everything else
      // (bookkeeping flags, alarms, indices) follows AFTER "sf".
      // Every driver-visible round (r01-r20) shipped parsed:null with
      // the extras interleaved before "queries"; this ordering plus
      // the unprefixed stdout line (build.sbt StdoutOutput) is the fix.
      val head = Seq(
        s""""metric":"total"""", s""""value":$valuePart""",
        s""""unit":"sec"""", s""""queries":$qs""", s""""sf":"$sfShort"""")
      val mprPart = Some(s""""mpr":${num(medianPairRatio, 2)}""")
      val alarms = Seq(failedPart, contaminatedPart, cuPart).flatten
      val rest = Seq(epPart, rrPart, pfPart, mprPart, calibPart,
        streamingPart, sxPart, loadPart).flatten
      // over-capture fallback ordering (alarmsLast): the driver keeps
      // the TAIL of stdout, so a line that cannot fit must carry its
      // integrity alarms (failed / contaminated:true / cu:true) at the
      // very END — the head (metric/value and the first query entries)
      // is what truncates, never the alarm the line exists to surface
      val body = if (alarmsLast) head ++ rest ++ alarms
        else head ++ alarms ++ rest
      body.mkString("{", ",", "}")
    }
    // Degradation priority as the registry grows: per-query seconds at
    // >= 1 decimal are the driver contract and yield LAST; the sx and
    // streaming summaries, then the calib v2 extension, then the
    // bookkeeping flags + load (all duplicated with full keys in
    // BENCH_FULL.json + stderr) fall off the line first; whole-second
    // rounding + the lean floor is the final fallback. The builder
    // never DROPS a query's number — but in a regime the window
    // physically cannot hold (188 queries ALL at 3-digit seconds is
    // ~2080 chars even whole-second lean), the emitted line exceeds
    // the capture and the driver's tail keeps its END: per-query
    // entries survive, the head fields front-truncate, and
    // BENCH_FULL.json (+ stderr) is the evidence path
    // two floors, both against the MEASURED capture: the driver keeps
    // the last 2000 chars of stdout, and sbt's trailing "[success]
    // Total time: …" line plus the "[info] " prefix consume ~85-90 of
    // them (the BENCH_r16-r18 artifacts all show exactly this tail
    // shape), leaving ~1910 for the line itself. Standard rungs keep
    // the conservative 1880; the LEAN rungs — already stripped to the
    // driver contract + integrity fields — may use 1900, which is
    // what keeps 1-decimal per-query seconds alive at 188 registered
    // queries (1884 chars in the all-sub-second worst case)
    val candidates = Iterator(
      (line(qsJson(2), withStreaming = true, withSx = true), 1880),
      (line(qsJson(1), withStreaming = true, withSx = true), 1880),
      (line(qsJson(1), withStreaming = true, withSx = false), 1880),
      (line(qsJson(1), withStreaming = false, withSx = false), 1880),
      (line(qsJson(1), withStreaming = false, withSx = false,
        withCalibV2 = false), 1880),
      // the lean 1-DECIMAL rung comes before any whole-second
      // rounding: at 186 registered queries the flags+load chars were
      // exactly what pushed 1-decimal over the window, silently
      // costing every query its sub-second resolution
      (line(qsJson(1), withStreaming = false, withSx = false,
        withCalibV2 = false, lean = true), 1900),
      (line(qsJson(0), withStreaming = false, withSx = false,
        withCalibV2 = false), 1880),
      (line(qsJson(0), withStreaming = false, withSx = false,
        withCalibV2 = false, lean = true), 1900))
    candidates.collectFirst { case (c, limit) if c.length <= limit => c }
      .getOrElse(line(qsJson(0), withStreaming = false, withSx = false,
        withCalibV2 = false, lean = true, alarmsLast = true))
  }
}
