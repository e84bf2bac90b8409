package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults. Sized for local[N]
  * testing but with the flags that matter at cluster scale: AQE on
  * (runtime shuffle/skew re-planning), shuffle partitions matched to
  * parallelism instead of the 200 default, UTC for oracle parity.
  * `nanosAsLong` lets us ingest nanosecond parquet timestamps (the
  * `events` table), which [[graft.queries.QuerySpec.t]] converts to
  * microsecond TIMESTAMP on read.
  *
  * The codegen cache is keyed by (context classloader, source), and
  * local mode compiles each class twice (driver and executor loaders):
  * curation's steady per-batch working set (≈210 keys) and an 8-query
  * registry pass (≈110) cycled through Spark's 100-entry default,
  * recompiling identical code every batch. 512 holds both with
  * headroom; each retained class costs ≈15–20 KB of heap. The live
  * status store keeps a short tail only: nothing reads it with the UI
  * off, and its defaults (1000 SQL executions with plan text, 100k
  * tasks) are heap a long-running router only accumulates.
  */
object GraftSession {
  /** Shuffle/spill scratch on tmpfs when available: this container's
    * root disk is shared with co-tenants and stalls unpredictably
    * (97% CPU-idle load spikes, pure iowait), which turned bench
    * numbers into noise. RAM-backed scratch takes the contended device
    * out of every shuffle write. On a real cluster this maps to the
    * standard practice of pointing spark.local.dir at fast local
    * NVMe, never the shared/network volume. */
  private def scratchDir: Option[String] = {
    val d = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
    if ((d.isDirectory || d.mkdirs()) && d.canWrite) Some(d.getAbsolutePath) else None
  }

  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor: with parallelismFirst (default), AQE
      // merges post-shuffle partitions down to minPartitionSize — at
      // the default 1 MB a sub-MB shuffle (a grouped window over a few
      // keys, a small-SF candidate table) collapses to ONE task and
      // serializes whatever compute follows. 64k keeps such shuffles
      // spread up to the core count; at production volumes partitions
      // sit far above 1 MB, so the floor never binds there — this is
      // a small-data parallelism guard, not a tuning constant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // let AQE coalesce the output partitioning of cached plans too:
      // iterative operators (dup-cluster label propagation) persist a
      // small working set each round, and without this flag every
      // cached round keeps the full shuffle-partition fan-out, so the
      // tail cost is task scheduling, not data.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "512")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
    scratchDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** Production state-store: RocksDB-backed, for stateful streaming
    * whose key space outgrows executor heap (dedup/counter/correlation
    * state at 100 TB). Session-level and runtime-settable — new
    * streaming queries pick it up; local tests default to the in-memory
    * provider for speed. */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def local(): SparkSession = {
    // pin the JVM FORMAT-category locale for the artifact mains
    // (Bench/Verify/tools): the evidence JSON is rendered with
    // f"...%.2f" interpolators throughout (java.util.Formatter reads
    // Locale.Category.FORMAT), and a comma-decimal default locale
    // (de, fr, ...) would turn "1.04" into "1,04" — syntactically
    // invalid JSON for every artifact consumer. ONLY the FORMAT
    // category: setting the BASE default to Locale.ROOT broke every
    // embedded-Derby database creation (Derby validates the default
    // locale as a territory and ROOT's empty language fails XBM0X —
    // found when the r14 bench's SQL transport rows went dark).
    java.util.Locale.setDefault(
      java.util.Locale.Category.FORMAT, java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
