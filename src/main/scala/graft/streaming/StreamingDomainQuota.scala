package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental registrable-domain quota — q182's web-crawl domain-cap
  * rule (no domain exceeds 1.5× its fair share: admit a domain's
  * rank-rn doc iff 2·rn·D ≤ 3·N, exact integers only) maintained
  * against STORED per-domain admission state instead of re-ranking the
  * whole corpus per epoch. The form a continuously-ingesting crawl
  * actually runs: each slice ranks ONLY its own rows (deterministic
  * cross-engine md5 order, the q169 discipline), offsets each domain's
  * ranks by the admitted count already consumed from state, and
  * re-evaluates the cap under the UPDATED totals (N and D grow with
  * the corpus — the fair share moves, but admission stays MONOTONE:
  * history is never un-admitted, new docs fill whatever headroom the
  * new cap leaves).
  *
  * Scale: the rank window partitions by domain (high cardinality =
  * even distribution) and the state join reuses its partitioning
  * ([[AdmissionDeltaStore.ranked]]); (N, D) is ONE broadcast scalar
  * row; state is one row per registrable domain, never row-scaled.
  */
object DomainQuota {

  /** Zero-domain starting state in the canonical schema. */
  def emptyState(spark: SparkSession): DataFrame =
    AdmissionDeltaStore.emptyState(spark, "domain")

  /** One incremental step: fold `newDocs` into per-domain admission
    * `state` under the updated cap. Returns the NEXT state — one row
    * per domain ever seen: (domain, n_docs, n_admitted,
    * admitted_id_sum), all exact Long sums (admitted_id_sum pins exact
    * MEMBERSHIP cross-engine, the q181 keeper-sum rule). Running it
    * from [[emptyState]] over one slice is EXACTLY q182 on that slice
    * — the incremental and batch forms share the gate arithmetic.
    *
    * The plan reads `state` three times (totals, a0 join, final outer
    * join) and `newDocs` twice (totals, ranking): pin anything
    * expensive before calling (q183 SitePins its slice-0 state). */
  def admitIncrement(state: DataFrame, newDocs: DataFrame,
      domainCol: String = "domain", idCol: String = "doc_id"): DataFrame = {
    val st = AdmissionDeltaStore.canonical(state, "domain")
    val nd = newDocs.select(col(idCol).cast("long").as("doc_id"),
      col(domainCol).cast("string").as("domain"))
    AdmissionDeltaStore.plus(st,
      AdmissionDeltaStore.increment(rankedAdmissions(st, nd), "domain"), "domain")
  }

  /** The shared gate: new rows ranked per domain (md5 order), offset by
    * the state's consumed slots, flagged `adm` under the updated-total
    * cap. Input frames must already carry the canonical column names.
    * Used by both the pure fold above and the streaming operator (which
    * needs the per-ROW admission verdict, not just the per-domain sums). */
  private[streaming] def rankedAdmissions(st: DataFrame,
      nd: DataFrame): DataFrame = {
    // (N, D) under the NEW totals: one scalar row over one per-domain
    // aggregate of state and batch. count(domain), not count(*): a NULL
    // domain counts toward N but, as in countDistinct, never toward D
    val consts = AdmissionDeltaStore.counts(st, nd, "domain")
      .groupBy(col("domain")).agg(sum(col("n_docs")).as("n_docs"))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n"),
        count(col("domain")).as("n_domains"))
      // the gate 2·rank·D ≤ 3·N evaluated in its overflow-proof
      // equivalent form rank ≤ (3·N) div (2·D): identical booleans for
      // every in-range integer (rank ≤ x ⟺ rank ≤ floor(x) for integer
      // rank), but the PRODUCT form overflows Long at crawl scale
      // (rank ~1e11 on a mega-domain × D ~1e8 registrable domains ≈
      // 2e19 > 2^63): an ANSI ARITHMETIC_OVERFLOW abort by default —
      // the whole admission query dies exactly when the corpus gets
      // big — and a wrapped-negative silent ADMIT-the-tail under
      // ansi=false. 3·N can't wrap below 3e18 docs; 2·D below 2^62
      // domains. (The DuckDB oracle keeps the literal product: it
      // errors loudly on overflow rather than wrapping, and the oracle
      // only runs at small SF.) The divisor floors at 1: with empty
      // state AND an empty batch n_domains = 0, and under ANSI mode
      // the raw div is a DIVIDE_BY_ZERO abort that would kill the
      // stream on an empty micro-batch — the floor keeps it a no-op
      // (no rows exist for adm_cap to gate when D = 0)
      .select(expr("n * 3 div (greatest(n_domains, 1) * 2)").as("adm_cap"))
    AdmissionDeltaStore.ranked(nd, st, "domain", consts)
      .withColumn("adm", col("a0") + col("rn") <= col("adm_cap"))
  }
}

/** [[DomainQuota]] driven from `foreachBatch`: one (domain, n_docs,
  * n_admitted, admitted_id_sum) delta row per domain per batch in a
  * [[BatchPartitionedStore]] under `stateDir`; the live state is the
  * per-domain sum of the deltas. Replay safety, `compactEvery` and
  * crash-safe compaction are the store's (see its scaladoc): a replayed
  * batch id admits exactly the rows of its first attempt.
  *
  * @param materialize pin strategy for the admitted output — must
  *   resolve EAGER (the StreamingQuota contract): the returned rows
  *   must be the exact set whose delta was just written; a lazy pin
  *   could recompute against a grown state.
  * @param compactEvery fold the deltas every N batches (0 = off), as
  *   [[BatchPartitionedStore]] describes. */
final class StreamingDomainQuota(spark: SparkSession, stateDir: String,
    domainCol: String = "domain", idCol: String = "doc_id",
    materialize: graft.operators.Materialize =
      graft.operators.Materialize.SessionDefault("StreamingDomainQuota.admitted"),
    compactEvery: Int = 0) {

  private val store = AdmissionDeltaStore.open(spark, stateDir, "domain", compactEvery)

  /** Live per-domain state (the fold of all deltas); None before the
    * first admission. */
  def state(): Option[DataFrame] = store.state()

  /** Admit `batch`'s rows under the updated domain cap, write the
    * per-domain delta, return the admitted rows (original schema).
    * Pass the foreachBatch `batchId` for replay safety (the -1 default
    * appends, for bounded-loop callers). */
  def admit(batch: DataFrame, batchId: Long = -1L): DataFrame =
    AdmissionDeltaStore.admit(store, "domain", "StreamingDomainQuota",
      batch, batchId, idCol, domainCol, materialize)(DomainQuota.rankedAdmissions)

  /** Fold the deltas into the `batch_id=-2` sentinel partition
    * (crash-safe: a crash can never silently reset domain budgets). */
  def compact(): Unit = store.compact()
}
