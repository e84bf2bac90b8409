package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the MEASURED semantics behind the repo's multi-reference
  * materialization discipline (the q151/q153/q170 comments), so the
  * choice between the three pinning forms stays fact-based:
  *
  *  - `cache()` shares blocks AS THEY COMPUTE, even between two
  *    branches of ONE action — but the entry leaks per call outside
  *    an explicit unpersist/clearCache (why the registry avoids it);
  *  - EAGER `localCheckpoint(true)` computes the upstream exactly once
  *    in its own up-front job, blocks freed with the frame — pay the
  *    extra job boundary only when construction-time materialization
  *    is itself the point (boundary consistency in GlobalIndex/
  *    GlobalPrefix: every consumer MUST see one partitioning);
  *  - LAZY `localCheckpoint(false)` is persist-backed until the first
  *    job completes, so two consumers inside one action SHARE the
  *    upstream exactly like cache (measured here — this spec exists
  *    because the opposite was plausibly assumed during a review
  *    pass), later actions read the finalized checkpoint, and blocks
  *    free with the frame. For leak-free multi-reference pinning
  *    inside one query, lazy is the default choice.
  */
class MaterializationDisciplineSpec extends SparkSpec {

  private def base: DataFrame = {
    MaterializationProbe.computes.set(0)
    import spark.implicits._
    spark.range(0, 400, 1, 4).mapPartitions { it =>
      MaterializationProbe.computes.incrementAndGet(); it
    }.toDF("v")
  }

  /** Two branches of one action over `df`; returns upstream partition
    * computations observed. */
  private def twoConsumersOneAction(df: DataFrame): Long = {
    val a = df.groupBy((col("v") % 10).as("k")).count()
    val b = df.agg(sum("v"))
    a.crossJoin(b).collect()
    MaterializationProbe.computes.get
  }

  test("eager localCheckpoint computes the upstream exactly once for two branches") {
    assert(twoConsumersOneAction(base.localCheckpoint(true)) == 4,
      "eager checkpoint must run each source partition once")
  }

  test("lazy localCheckpoint ALSO shares within one action (persist-backed until finalize)") {
    assert(twoConsumersOneAction(base.localCheckpoint(false)) == 4,
      "lazy checkpoint must share the upstream between branches of one action")
    // and a SECOND action reuses the now-finalized checkpoint
    val df = base.localCheckpoint(false)
    df.agg(sum("v")).collect()
    val afterFirst = MaterializationProbe.computes.get
    df.groupBy((col("v") % 10).as("k")).count().collect()
    assert(MaterializationProbe.computes.get == afterFirst,
      "a later action must read the materialized checkpoint, not recompute")
  }

  test("cache shares blocks between branches of one action (but leaks without unpersist)") {
    val df = base.cache()
    try assert(twoConsumersOneAction(df) == 4,
      "cached blocks must be shared as they compute")
    finally { df.unpersist(); () }
  }

  // ---- the SitePin rows: the registry sites (q125.states,
  // q145.profiles, q179.grams) and the exact joins' shingle relations
  // use the bounded releasable SitePin — these rows pin its two
  // load-bearing claims: cache-like sharing and per-site boundedness
  // (NO per-call leak).

  test("SitePin shares the upstream between branches of one action, like cache") {
    import graft.operators.Materialize
    val df = Materialize.SitePin("spec.share")(base)
    try assert(twoConsumersOneAction(df) == 4,
      "SitePin must share blocks between branches of one action")
    finally Materialize.releaseSitePins(spark)
  }

  test("SitePin is BOUNDED per site: N calls leave one live handle and one cache entry") {
    import graft.functions.DedupFunctions
    import graft.operators.Materialize
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog ${i % 4} and ${i % 3}")
    }.toDF("doc_id", "text")
    // one call per i, each over a DISTINCT plan (the registry's per-SF
    // reality) — a plain lazy persist here would leak 5 cache entries
    val inputs: Seq[(String, Int => Unit)] = Seq(
      "SitePin" -> { i =>
        Materialize.SitePin("spec.bounded")(base.filter(col("v") >= i))
          .agg(sum("v")).collect(); ()
      },
      "jaccardSimilarityJoin" -> { i =>
        DedupFunctions.jaccardSimilarityJoin(docs.filter(col("doc_id") >= i),
          "doc_id", "text", 3, 0.5).collect(); ()
      },
      "containmentJoin" -> { i =>
        DedupFunctions.containmentJoin(docs.filter(col("doc_id") >= i),
          "doc_id", "text", 3, 0.5).collect(); ()
      })
    inputs.foreach { case (name, call) =>
      Materialize.releaseSitePins(spark)
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.size
      (0 until 5).foreach(call)
      assert(Materialize.liveSitePins(spark) == 1,
        s"$name: repeated pins at one site must keep exactly one live handle")
      assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
        s"$name leaked cache entries: ${spark.sparkContext.getPersistentRDDs.size - before}")
      Materialize.releaseSitePins(spark)
      assert(spark.sparkContext.getPersistentRDDs.size <= before,
        s"$name: releaseSitePins must drop the last pinned relation")
      assert(Materialize.liveSitePins(spark) == 0)
    }
  }
}

/** Executor-visible probe (closures capture statics, never the suite). */
object MaterializationProbe {
  val computes = new AtomicLong(0)
}
