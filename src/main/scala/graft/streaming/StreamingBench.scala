package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.core.Message

/** In-memory transport throughput — the BASELINE.md headline
  * comparison (reference: README.md:155 GoChannel 315,776 pub /
  * 138,743 sub msg/s, 16-byte messages, 16 CPU): `MemoryStream` →
  * identity handler → memory sink, driven batch-by-batch so the
  * subscriber number includes real micro-batch scheduling overhead
  * (≥10 micro-batches), not one giant drain.
  */
object StreamingBench {

  final case class Result(
      messages: Long, batches: Int,
      publishMsgsPerSec: Double, subscribeMsgsPerSec: Double)

  /** Two passes of one transport path: best-of-2 per metric plus the
    * max/min pair ratio per metric — the same contamination defense
    * the batch side has carried since r7 (min-of-2 + pair ratios).
    * A transient co-tenant spike depresses one pass but almost never
    * both, so best-of-2 reports the path's capability and the ratio
    * records how much the passes disagreed; sustained load shows up
    * as a high MEDIAN ratio across all paths (the r10 12–24 % dip vs
    * r9 was unattributable precisely because this evidence was
    * missing from the streaming section). */
  final case class Paired(
      messages: Long, batches: Int,
      publishMsgsPerSec: Double, subscribeMsgsPerSec: Double,
      pubPairRatio: Double, subPairRatio: Double,
      passes: Seq[Result],
      extraPass: Boolean = false)

  /** Per-METRIC contamination gate: a single metric's pair ratio over
    * this takes a third pass for its path. The MEDIAN-only verdict let
    * r13's file_sub ship a 6.01 pair ratio silently (81.6k vs 490.3k
    * msg/s — the artifact's number was fine, but nothing re-measured
    * the hit metric or marked it). */
  private[graft] val metricPairRatioGate = 2.0

  def paired(f: => Result): Paired = {
    val a = f; val b = f
    // degenerate pass (rate <= 0): report a large FINITE ratio —
    // Infinity would render as bare `Infinity` under %.2f and break
    // the artifact's JSON contract; 9999.99 still trips the
    // contamination verdict loudly
    def ratio(x: Double, y: Double): Double =
      if (math.min(x, y) <= 0) 9999.99
      else math.max(x, y) / math.min(x, y)
    val extra =
      ratio(a.publishMsgsPerSec, b.publishMsgsPerSec) > metricPairRatioGate ||
        ratio(a.subscribeMsgsPerSec, b.subscribeMsgsPerSec) > metricPairRatioGate
    val passes = if (extra) Seq(a, b, f) else Seq(a, b)
    // best rate over ALL passes; the reported pair ratio is over the
    // two BEST values per metric (the cleanest evidence, mirroring the
    // batch side's best-two-passes rule)
    def best2(sel: Result => Double): (Double, Double) = {
      val s = passes.map(sel).sorted.reverse
      (s(0), s(1))
    }
    val (p1, p2) = best2(_.publishMsgsPerSec)
    val (s1, s2) = best2(_.subscribeMsgsPerSec)
    Paired(a.messages, a.batches, p1, s1,
      ratio(p1, p2), ratio(s1, s2), passes, extra)
  }

  /** Best-of-2 (+contamination third pass) for a single-scalar path —
    * the epoch-publish row, which has no subscribe half (its read side
    * is runSql's poller, already measured). Same pair-ratio defense as
    * [[paired]]. */
  final case class ScalarRate(rate: Double, pairRatio: Double,
      passes: Seq[Double], extraPass: Boolean = false)

  def pairedScalar(f: => Double): ScalarRate = {
    def ratio(x: Double, y: Double): Double =
      if (math.min(x, y) <= 0) 9999.99
      else math.max(x, y) / math.min(x, y)
    val a = f; val b = f
    val extra = ratio(a, b) > metricPairRatioGate
    val passes = if (extra) Seq(a, b, f) else Seq(a, b)
    val s = passes.sorted.reverse
    ScalarRate(s(0), ratio(s(0), s(1)), passes, extra)
  }

  /** (full, compact) streaming-evidence JSON for the three transport
    * paths plus the exactly-once epoch publish row. Pure string
    * builders so StreamingBenchSpec pins the key set, the ratio
    * arithmetic, and the contamination rule without running the
    * transports. Verdict rule: the MEDIAN of the seven per-metric pair
    * ratios > 1.5 — a single-path transient keeps the median clean,
    * while machine-wide load that touched most passes trips it, telling
    * the consumer not to bank the absolute rates. */
  def evidenceJson(m: Paired, f: Paired, s: Paired,
      e: ScalarRate): (String, String) = {
    val ratios = Seq(m.pubPairRatio, m.subPairRatio, f.pubPairRatio,
      f.subPairRatio, s.pubPairRatio, s.subPairRatio, e.pairRatio).sorted
    // true median for either parity (the even-count form averages the
    // two middles): a single degenerate path must not flip the
    // contamination verdict the key name promises a median for
    val median =
      if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    val contaminated = median > 1.5
    def passJson(p: Paired, sel: Result => Double): String =
      p.passes.map(r => f"${sel(r)}%.0f").mkString("[", ",", "]")
    val epochPasses = e.passes.map(r => f"$r%.0f").mkString("[", ",", "]")
    val full =
      f"""{"messages":${m.messages},"batches":${m.batches},"publish_msgs_per_sec":${m.publishMsgsPerSec}%.0f,"subscribe_msgs_per_sec":${m.subscribeMsgsPerSec}%.0f,"file_publish_msgs_per_sec":${f.publishMsgsPerSec}%.0f,"file_subscribe_msgs_per_sec":${f.subscribeMsgsPerSec}%.0f,"sql_publish_msgs_per_sec":${s.publishMsgsPerSec}%.0f,"sql_subscribe_msgs_per_sec":${s.subscribeMsgsPerSec}%.0f,"sql_epoch_publish_msgs_per_sec":${e.rate}%.0f,"pair_ratios":{"pub":${m.pubPairRatio}%.2f,"sub":${m.subPairRatio}%.2f,"file_pub":${f.pubPairRatio}%.2f,"file_sub":${f.subPairRatio}%.2f,"sql_pub":${s.pubPairRatio}%.2f,"sql_sub":${s.subPairRatio}%.2f,"sql_epoch_pub":${e.pairRatio}%.2f},"passes":{"pub":${passJson(m, _.publishMsgsPerSec)},"sub":${passJson(m, _.subscribeMsgsPerSec)},"file_pub":${passJson(f, _.publishMsgsPerSec)},"file_sub":${passJson(f, _.subscribeMsgsPerSec)},"sql_pub":${passJson(s, _.publishMsgsPerSec)},"sql_sub":${passJson(s, _.subscribeMsgsPerSec)},"sql_epoch_pub":$epochPasses},"extra_pass":{"mem":${m.extraPass},"file":${f.extraPass},"sql":${s.extraPass},"sql_epoch":${e.extraPass}},"median_pair_ratio":$median%.2f,"contaminated":$contaminated}"""
    val compact =
      f"""{"pub":${m.publishMsgsPerSec}%.0f,"sub":${m.subscribeMsgsPerSec}%.0f,"fp":${f.publishMsgsPerSec}%.0f,"fs":${f.subscribeMsgsPerSec}%.0f,"qp":${s.publishMsgsPerSec}%.0f,"qs":${s.subscribeMsgsPerSec}%.0f,"qe":${e.rate}%.0f,"spr":$median%.2f,"sc":$contaminated}"""
    (full, compact)
  }

  /** Durable (file/parquet) transport throughput — the analogue of the
    * reference's SQL-transport rows (README.md:159-160, 2.8k–9.5k
    * msg/s): publish = parquet appends, subscribe = streaming file
    * source drained through the same counting consumer. */
  def runFile(spark: SparkSession, nBatches: Int = 10, perBatch: Int = 20000): Result = {
    import org.apache.spark.sql.functions.{col, count, length, sum}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fb-").toString
    val ps = new graft.sources.FilePubSub(spark, root)
    ps.subscribeInitialize("bench")
    val payload = Array.fill[Byte](16)(7)
    val ts = new Timestamp(1700000000000L)
    val n = nBatches.toLong * perBatch

    val p0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      ps.publishBatch("bench", (0 until perBatch)
        .map(i => Message(s"$b-$i", Map.empty, payload, ts)).toDF()
        .coalesce(1)) // one file per publish, like one INSERT batch
    }
    val pubSec = (System.nanoTime() - p0) / 1e9

    val received = new java.util.concurrent.atomic.LongAdder
    val q = ps.subscribe("bench").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-fbck-").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = b.agg(count(col("uuid")), sum(length(col("payload")))).collect()(0)
        received.add(r.getLong(0)); ()
      }
      .start()
    try {
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val subSec = (System.nanoTime() - t0) / 1e9
      require(received.sum == n, s"file sink saw ${received.sum} of $n")
      Result(n, nBatches, n / pubSec, n / subSec)
    } finally q.stop()
  }

  /** SQL (JDBC) transport throughput on embedded Derby — the direct
    * analogue of the reference's SQL rows (README.md:159-160: MySQL
    * 6,371 pub / 2,794 sub, PostgreSQL 2,831 / 9,460 msg/s): publish =
    * executor-side batch INSERTs through Spark's JDBC sink, subscribe =
    * the CDC poller tailing the table into the broker stream, drained
    * through the same counting consumer. Embedded Derby has no network
    * hop, so treat the comparison as same-class, not same-server. */
  def runSql(spark: SparkSession, nBatches: Int = 5, perBatch: Int = 4000): Result = {
    import org.apache.spark.sql.functions.{col, count, length, sum}
    import spark.implicits._
    // unique in-memory DB per invocation: paired passes must not see
    // each other's rows (a fixed name would double the second pass's
    // backlog and fail its delivery check); dropped in the finally —
    // Derby otherwise keeps every memory DB resident for the JVM life
    val db = s"graftbench${System.nanoTime()}"
    val ps = new graft.sources.SqlPubSub(spark,
      s"jdbc:derby:memory:$db;create=true", pollIntervalMs = 10,
      pollPageSize = 50000)
    def dropDb(): Unit =
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // 08006 = dropped OK
    try {
      ps.subscribeInitialize("bench")
      val payload = Array.fill[Byte](16)(7)
      val ts = new Timestamp(1700000000000L)
      val n = nBatches.toLong * perBatch

      val p0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        ps.publishBatch("bench", (0 until perBatch)
          .map(i => Message(s"$b-$i", Map.empty, payload, ts)).toDF()
          .repartition(4)) // executor-parallel INSERT batches
      }
      val pubSec = (System.nanoTime() - p0) / 1e9

      val received = new java.util.concurrent.atomic.LongAdder
      val q = ps.subscribe("bench").writeStream
        .option("checkpointLocation", Files.createTempDirectory("graft-sqlb-").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val r = b.agg(count(col("uuid")), sum(length(col("payload")))).collect()(0)
          received.add(r.getLong(0)); ()
        }
        .start()
      // timer starts AFTER start(), like the memory and file paths —
      // the three transport rows in one artifact must be measured
      // like-for-like: charging 1–3 s of streaming-query startup only
      // to the SQL row depressed its rate vs the others. The poller's
      // catch-up (awaitCaughtUp) stays INSIDE the window: tailing the
      // table into the broker is the subscribe work itself, the
      // analogue of the file path's source discovery.
      val t0 = System.nanoTime()
      try {
        val deadline = System.currentTimeMillis() + 120000
        ps.awaitCaughtUp("bench", timeoutMs = 60000)
        q.processAllAvailable()
        while (received.sum < n && System.currentTimeMillis() < deadline) {
          Thread.sleep(20); q.processAllAvailable()
        }
        val subSec = (System.nanoTime() - t0) / 1e9
        require(received.sum == n, s"sql sink saw ${received.sum} of $n")
        Result(n, nBatches, n / pubSec, n / subSec)
      } finally q.stop()
    } finally { ps.close(); dropDb() }
  }

  /** Exactly-once epoch-publish throughput of the SQL transport's one
    * epoch writer — the one-topic entry point
    * ([[graft.sources.SqlPubSub.publishEpoch]]) shares it with the
    * router's sink, [[graft.sources.SqlPubSub.publishRoutedEpoch]]:
    * per-partition transactions, rows + marker committed together, no
    * driver funnel.
    * Measured at 8 partitions so the number reflects the
    * executor-parallel shape, reported beside the at-least-once
    * `publishBatch` row (sql_pub) it upgraded. Publish-only: the read
    * side is runSql's poller, already measured. The delivery check
    * (every row actually landed, exactly once) runs OUTSIDE the timed
    * window. */
  def runSqlEpochRate(spark: SparkSession, nBatches: Int = 5,
      perBatch: Int = 4000): Double = {
    import spark.implicits._
    val db = s"graftepoch${System.nanoTime()}"
    val ps = new graft.sources.SqlPubSub(spark,
      s"jdbc:derby:memory:$db;create=true")
    def dropDb(): Unit =
      try { java.sql.DriverManager.getConnection(
        s"jdbc:derby:memory:$db;drop=true"); () }
      catch { case _: java.sql.SQLException => () } // 08006 = dropped OK
    try {
      ps.subscribeInitialize("bench")
      val payload = Array.fill[Byte](16)(7)
      val ts = new Timestamp(1700000000000L)
      val n = nBatches.toLong * perBatch
      val p0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        ps.publishEpoch("bench", (0 until perBatch)
          .map(i => Message(s"$b-$i", Map.empty, payload, ts)).toDF()
          .repartition(8), writerId = s"bench-w-$b")
      }
      val pubSec = (System.nanoTime() - p0) / 1e9
      val cnt = ps.subscribeBatch("bench").count()
      require(cnt == n, s"epoch publish delivered $cnt of $n")
      n / pubSec
    } finally { ps.close(); dropDb() }
  }

  def run(spark: SparkSession, nBatches: Int = 20, perBatch: Int = 100000): Result = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val stream = MemoryStream[Message](spark)
    val payload = Array.fill[Byte](16)(7) // 16-byte messages, like the reference bench
    val ts = new Timestamp(1700000000000L)
    val batches = (0 until nBatches).map { b =>
      (0 until perBatch).map(i => Message(s"$b-$i", Map.empty, payload, ts))
    }

    // counting consumer, the analogue of BenchSubscriber's receive-and-
    // ack loop (pubsub/tests/bench_pubsub.go:16-41): every message is
    // consumed (full pipeline materialization), nothing is collected
    // row-by-row onto the driver.
    val received = new java.util.concurrent.atomic.LongAdder
    val q = stream.toDS().writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-sb-").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Message], _: Long) =>
        // count + payload-byte sum: forces actual delivery of message
        // bytes through the pipeline (a bare count() could prune the
        // payload column and overstate throughput)
        import org.apache.spark.sql.functions.{col, count, length, sum}
        val r = b.agg(count(col("uuid")), sum(length(col("payload")))).collect()(0)
        received.add(r.getLong(0)); ()
      }
      .start()
    try {
      var pubNanos = 0L
      val t0 = System.nanoTime()
      batches.foreach { b =>
        val p0 = System.nanoTime()
        stream.addData(b)
        pubNanos += System.nanoTime() - p0
        q.processAllAvailable() // one micro-batch per publish
      }
      val totalSec = (System.nanoTime() - t0) / 1e9
      val n = nBatches.toLong * perBatch
      require(received.sum == n, s"sink saw ${received.sum} of $n messages")
      Result(n, nBatches,
        publishMsgsPerSec = n / (pubNanos / 1e9),
        subscribeMsgsPerSec = n / totalSec)
    } finally q.stop()
  }
}
