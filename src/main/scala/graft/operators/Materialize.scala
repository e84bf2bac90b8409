package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CacheBridge
import org.apache.spark.storage.StorageLevel

/** The repo's pin idiom, one form per kind of site:
  *
  *  - EAGER sites (the streaming operators, [[GlobalIndex]],
  *    [[GlobalPrefix]], the DedupFunctions signature/band/word passes)
  *    call `df.localCheckpoint()` directly: the pin is taken at
  *    construction time, so every consumer reads ONE evaluation (one
  *    sampled range-boundary set, one `current_timestamp()`, the exact
  *    rows whose state delta was just written). It truncates lineage
  *    and keeps its blocks on the executor that computed them, so a
  *    lost executor fails the job or micro-batch, which is re-run —
  *    every streaming operator here is replay-safe by batch id.
  *  - LAZY registry sites (deterministic multi-consumer relations in
  *    query-registry functions, where no caller owns a cache entry's
  *    lifetime) call [[Materialize.SitePin]].
  */
object Materialize {

  /** Bounded, releasable persist pin for sites with no caller to own a
    * cache entry's lifetime (query-registry functions): a plain lazy
    * persist there would leak one cache entry PER CALL — the q151 rule
    * that forced those sites onto `localCheckpoint` in the first
    * place. At most ONE pinned relation per (session, site) is ever
    * alive: pinning releases the site's previous entry first, and
    * [[releaseSitePins]] clears a session's remainder.
    *
    * Lazy and shared via the cache manager (the fast shape `cache()`
    * had — no up-front job boundary, branches of one action share
    * blocks as they compute, MaterializationDisciplineSpec), at
    * MEMORY_AND_DISK with lineage KEPT — an executor loss recomputes
    * the lost blocks instead of killing the job. DETERMINISTIC pins
    * only: a lazy pin may legally recompute, so a non-deterministic
    * upstream (current_timestamp, rand, sampled boundaries) must use
    * an eager `localCheckpoint()` instead.
    *
    * Calling `unpersist()` on a frame DERIVED from the pinned one would
    * be a silent no-op — the cache manager matches the exact cached
    * plan — which is why the pin is released through the site, never
    * through the caller's result.
    *
    * SINGLE-FLIGHT per site: two pins of one site inside ONE plan, or
    * two CONCURRENT queries pinning the same site in one session,
    * release each other's live entry mid-job — with deterministic
    * lineage that is a silent recompute (the evicted consumer
    * re-derives its blocks), a performance hazard only, never
    * corruption. Registry sites are invoked single-flight by
    * Bench/Verify. */
  final case class SitePin(site: String) {
    def apply(df: DataFrame): DataFrame = sitePins.synchronized {
      // the whole release-persist-record sequence is atomic under the
      // registry lock: two concurrent pins at one site interleaving
      // release and persist could otherwise strand a persisted entry
      // under a handle already evicted from the map (the per-call leak
      // this class exists to bound), and release must precede the new
      // persist because the previous call's plan may be
      // cache-canonically identical to this one (same inputs) —
      // unpersisting it after the new persist would evict the new pin.
      // persist() is a driver-side cache-manager registration, not a
      // job, so holding the lock across it is cheap.
      val m = Option(sitePins.get(df.sparkSession)).getOrElse {
        val fresh = scala.collection.mutable.Map.empty[String, CacheBridge.PlanPin]
        sitePins.put(df.sparkSession, fresh)
        fresh
      }
      m.remove(site).foreach(_.release(blocking = false))
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      m.put(site, CacheBridge.pin(p))
      p
    }
  }

  // weak keys: a dropped SparkSession must not be kept alive by its
  // pin bookkeeping (the cached blocks die with the session anyway).
  // This only works because the VALUES hold no strong path back to the
  // key: CacheBridge pins hold weak (session, plan) refs — a handle
  // holding Datasets would strongly reference the session and pin its
  // own key forever (WeakHashMap semantics).
  private val sitePins =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, CacheBridge.PlanPin]]

  /** Release every [[SitePin]] entry held for `spark` — harness/
    * session-teardown hook (Bench/Verify's `clearCache()` already
    * evicts the blocks; this also clears the pin bookkeeping). */
  def releaseSitePins(spark: SparkSession): Unit = sitePins.synchronized {
    Option(sitePins.get(spark)).foreach { m =>
      m.values.foreach(_.release(blocking = false)); m.clear()
    }
  }

  /** Test/observability hook: live [[SitePin]] count for a session
    * (bounded by the number of distinct sites, never by call count —
    * the no-leak property MaterializationDisciplineSpec pins). */
  private[graft] def liveSitePins(spark: SparkSession): Int =
    sitePins.synchronized {
      Option(sitePins.get(spark)).map(_.size).getOrElse(0)
    }
}
