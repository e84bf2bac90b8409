package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental target-share MIXTURE — q57's data-mixing goal (each
  * stratum contributes at most its target share of the corpus)
  * maintained against STORED per-stratum admission state: the q183
  * discipline applied to mixing, completing the continuous-ingestion
  * curation trio (domain quota / near-dedup / mixture).
  *
  * The static primitive (q57, [[graft.functions.SamplingFunctions
  * .mixtureSample]]) is a hash-rate draw: keep a doc iff
  * `hash(id) mod 10^4 < rate_bp` with `rate_bp = target_bp·N/n_g`.
  * That rate is NOT monotone under a growing corpus — a stratum's
  * rate FALLS as it dominates, so re-evaluating the draw per epoch
  * would un-admit history (exactly what continuous ingestion must
  * never do). The incremental form keeps the same target shares as a
  * rank CAP instead: admit a stratum's rank-rn doc (md5 order, the
  * q169 cross-engine discipline; ranks offset by the state's consumed
  * slots) iff
  *
  *   a0 + rn ≤ (target_bp(g) · N) div 10^4
  *
  * under the UPDATED corpus total N. Exact integers only; admission
  * monotone (caps only grow with N); strata absent from the target
  * map get cap 0 — tracked in state, never admitted (q57's
  * drop-unlisted rule). NULL strata are dropped, q57's explicit rule.
  *
  * Overflow: the cap is evaluated in the decomposed form
  * `bp·(N div 10^4) + (bp·(N mod 10^4)) div 10^4` — exact for every
  * Long N (bp·(N div 10^4) ≤ N since bp ≤ 10^4), where the literal
  * product bp·N wraps past 2^63 at ~9e14 docs. (The DuckDB oracle
  * keeps the literal cross-multiplied gate: it errors loudly on
  * overflow and only runs at small SF.)
  *
  * Scale notes as in [[DomainQuota]], per stratum. The target map is a
  * literal when-chain (codegen constant), never a joined table.
  */
object MixtureQuota {

  /** Zero-stratum starting state in the canonical schema. */
  def emptyState(spark: SparkSession): DataFrame =
    AdmissionDeltaStore.emptyState(spark, "stratum")

  /** One incremental step: fold `newDocs` into per-stratum admission
    * `state` under the updated target-share caps. Returns the NEXT
    * state — one row per stratum ever seen: (stratum, n_docs,
    * n_admitted, admitted_id_sum), all exact Long sums
    * (admitted_id_sum pins exact MEMBERSHIP, the q181 keeper-sum
    * rule). Running it from [[emptyState]] over one slice is the
    * batch rank-cap mixture on that slice.
    *
    * Multi-reference inputs: same pinning contract as
    * [[DomainQuota.admitIncrement]] — pin anything expensive before
    * calling. */
  def admitIncrement(state: DataFrame, newDocs: DataFrame,
      targetBp: Map[String, Int], stratumCol: String = "stratum",
      idCol: String = "doc_id"): DataFrame = {
    val st = AdmissionDeltaStore.canonical(state, "stratum")
    val nd = newDocs.select(col(idCol).cast("long").as("doc_id"),
      col(stratumCol).cast("string").as("stratum"))
    AdmissionDeltaStore.plus(st, AdmissionDeltaStore.increment(
      rankedAdmissions(st, nd, targetBp), "stratum"), "stratum")
  }

  /** The shared gate: new rows ranked per stratum (md5 order), offset
    * by the state's consumed slots, flagged `adm` under the
    * updated-total target-share cap. Inputs must already carry the
    * canonical column names; NULL strata are dropped here. Used by the
    * pure fold above and by [[StreamingMixtureQuota]] (which needs the
    * per-ROW verdict). */
  private[streaming] def rankedAdmissions(st: DataFrame, canonicalDocs: DataFrame,
      targetBp: Map[String, Int]): DataFrame = {
    targetBp.values.foreach(bp =>
      require(bp >= 0 && bp <= 10000, s"share out of range: $bp bp"))
    val nd = canonicalDocs.filter(col("stratum").isNotNull)
    // N under the NEW total: one scalar row, broadcast
    val consts = AdmissionDeltaStore.counts(st, nd, "stratum")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_total"))
    // the stratum → target_bp literal when-chain (the mixtureSample
    // shape): a codegen'd constant lookup, no join
    val bpCol: Column = targetBp.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (v, bp)) =>
        when(col("stratum") === lit(v), lit(bp.toLong)).otherwise(acc)
      }
    AdmissionDeltaStore.ranked(nd, st, "stratum", consts)
      .withColumn("target_bp", bpCol)
      // overflow-proof decomposed cap — see the object scaladoc
      .withColumn("adm_cap",
        expr("target_bp * (n_total div 10000) + " +
          "(target_bp * (n_total % 10000)) div 10000"))
      .withColumn("adm", col("a0") + col("rn") <= col("adm_cap"))
  }
}

/** [[MixtureQuota]] driven from `foreachBatch`: per-stratum deltas in
  * a [[BatchPartitionedStore]] under `stateDir` (replay safety,
  * `compactEvery` and crash-safe compaction are the store's) — the
  * structural twin of [[StreamingDomainQuota]] with the mixture gate.
  *
  * The admitted output is pinned eagerly (`localCheckpoint()`, the
  * StreamingQuota contract): the returned rows are the exact set whose
  * delta was just written. A lost executor fails the micro-batch,
  * which is re-run.
  *
  * @param compactEvery fold the deltas every N batches (0 = off), as
  *   [[BatchPartitionedStore]] describes. */
final class StreamingMixtureQuota(spark: SparkSession, stateDir: String,
    targetBp: Map[String, Int],
    stratumCol: String = "stratum", idCol: String = "doc_id",
    compactEvery: Int = 0) {

  private val store = AdmissionDeltaStore.open(spark, stateDir, "stratum", compactEvery)

  /** Live per-stratum state (the fold of all deltas); None before the
    * first admission. */
  def state(): Option[DataFrame] = store.state()

  /** Admit `batch`'s rows under the updated target-share caps, write
    * the per-stratum delta, return the admitted rows (original
    * schema). Pass the foreachBatch `batchId` for replay safety (the
    * -1 default appends, for bounded-loop callers). */
  def admit(batch: DataFrame, batchId: Long = -1L): DataFrame =
    AdmissionDeltaStore.admit(store, "stratum",
      batch, batchId, idCol, stratumCol)(
      MixtureQuota.rankedAdmissions(_, _, targetBp))

  /** Fold the deltas into the `batch_id=-2` sentinel partition
    * (crash-safe). */
  def compact(): Unit = store.compact()
}
