package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, TextFunctions}

/** Streaming INCREMENTAL near-duplicate dedup — the MinHash-LSH family
  * as a streaming operator, generalizing the reference's Deduplicator
  * middleware (message/router/middleware/deduplicator.go:64-81) from
  * exact content hashes to similarity: a document is dropped when it is
  * near-identical to anything already RETAINED, within or across
  * micro-batches.
  *
  * Per micro-batch (drive from `foreachBatch`, or any loop of bounded
  * frames):
  *   1. MinHash signatures + LSH band keys for the batch (the same
  *      [[DedupFunctions]] building blocks as the batch path — one
  *      signature computation per doc);
  *   2. candidates = batch band keys ∩ the persistent band INDEX
  *      (parquet under `indexDir`) — a hash-bucket join, never a scan
  *      of the retained corpus text;
  *   3. verification by the MinHash Jaccard ESTIMATOR (fraction of
  *      matching signature components ≥ `minSim`) — banding alone
  *      would drop on a single colliding band;
  *   4. within-batch: same verify over intra-bucket pairs; the
  *      SMALLEST id per similar group survives (earliest-wins, the
  *      Deduplicator's first-seen rule under a deterministic order);
  *   5. survivors' (band, band_key, sig) rows APPEND to the index.
  *
  * State = the index, and it is bounded two ways: only RETAINED docs
  * index (duplicates add zero rows — an adversarial duplicate flood
  * grows nothing), and an optional event-horizon `retention` makes the
  * join read only rows ingested within the trailing interval — the
  * watermark analogue of `dropDuplicatesWithinWatermark`, for
  * "dedup within N days" policies. [[compact]] rewrites the index
  * dropping expired rows (storage reclaim, same contract as
  * FilePubSub.compact).
  *
  * At cluster scale the index is a parquet table partitioned by band —
  * the per-batch join shuffles the (small) batch side to the index's
  * band buckets; the retained corpus never re-shuffles.
  */
/** The returned kept-set is pinned EAGERLY (`localCheckpoint()`): it
  * must capture the exact rows whose bands were just appended to the
  * index, and a lazy pin with lineage kept could legally recompute —
  * re-evaluating current_timestamp() and drifting from the persisted
  * index. A lost executor fails the micro-batch, which is re-run
  * (replay-safe by batch id). */
/** @param compactEvery fold the index's batch partitions every N
  *   batches (0 = off), as [[BatchPartitionedStore]] describes; expired
  *   rows drop in the same rewrite when `retention` is set, and the
  *   band layout + band_key sort carry through. */
final class StreamingNearDup(spark: SparkSession, indexDir: String,
    idCol: String = "doc_id", textCol: String = "text",
    shingleN: Int = 3, k: Int = 12, r: Int = 2,
    minSim: Double = 0.7, retention: Option[String] = None,
    compactEvery: Int = 0) {

  // the index's fold: rows stay as they are (nothing aggregates),
  // minus the ones past the retention horizon
  private def withinRetention(rows: DataFrame): DataFrame = retention.fold(rows)(h =>
    rows.filter(col("ingest_ts") >= current_timestamp() - expr(s"INTERVAL $h")))

  // index layout: hive-partitioned by band (the join's directory
  // prune), one file per band per batch, rows sorted by band_key
  // within it (parquet row-group min/max skipping on the join key at
  // corpus scale)
  private def layout(rows: DataFrame): DataFrame =
    rows.repartition(col("band")).sortWithinPartitions(col("band"), col("band_key"))

  private val index = new BatchPartitionedStore(spark, indexDir,
    Seq("batch_id", "band"), compactEvery, layout, withinRetention)

  /** Live index rows for the given bands only. `band` is the index's
    * HIVE PARTITION column, so the isin lands in the scan's
    * PartitionFilters — only the touched band directories are listed
    * and read, the layout PLANS.md promises. ([[processBatch]] asks
    * for every band — each doc emits all k/r of them — so the layout's
    * main scale win there is that within a band the files are sorted
    * by band_key, giving parquet row-group min/max skipping on the
    * join key.) `excluding` is the replay view's batch id. */
  private[streaming] def indexForBands(bands: Seq[Any],
      excluding: Long = -1L): Option[DataFrame] =
    if (bands.isEmpty) None
    else index.state(excluding).map(_.filter(col("band").isin(bands: _*)))

  /** (id, sig, band, band_key) for every doc in `batch` with enough
    * text to shingle; too-short docs pass through undeduped (no
    * signature exists for them — same rule as the batch path's
    * `size(w) >= n` guard). */
  private def bandSigs(batch: DataFrame): DataFrame = {
    val sh = batch.select(col(idCol), TextFunctions.words(col(textCol)).as("w"))
      .filter(size(col("w")) >= shingleN)
      .select(col(idCol), TextFunctions.shinglesFromWords(col("w"), shingleN).as("s"))
    val sig = sh.select(col(idCol),
      DedupFunctions.minhashSignatureFromHashes(
        DedupFunctions.baseHashes(col("s"), portable = false), k).as("sig"))
    // keepSig carries the signature THROUGH the explode — the previous
    // lshBands(sig).join(sig) referenced the sig subtree on both
    // shuffle sides, scanning the caller's batch source twice per
    // micro-batch (caught by the single-evaluation probe row)
    DedupFunctions.lshBands(sig, idCol, "sig", k, r, keepSig = true)
  }

  /** Estimated Jaccard between two k-length signatures: the fraction
    * of matching components (the MinHash estimator). */
  private def estSim(s1: org.apache.spark.sql.Column, s2: org.apache.spark.sql.Column) =
    size(filter(zip_with(s1, s2, (a, b) => a === b), x => x)).cast("double") / k

  /** Process one micro-batch: returns the RETAINED subset of `batch`
    * and appends the survivors' bands to the index. The batch frame
    * must be bounded (a `foreachBatch` frame, not a streaming plan).
    *
    * REPLAY SAFETY: pass the foreachBatch `batchId` — the cross-batch
    * join reads the store's replay view (a replayed batch must not match
    * its own first attempt's rows: every survivor would self-match at
    * estSim 1.0 and be dropped) and the write overwrites only this
    * batch's partitions, so a replay is bit-identical. The default -1
    * appends, for bounded-loop callers outside foreachBatch. */
  def processBatch(batch: DataFrame, batchId: Long = -1L): DataFrame = {
    index.compactIfDue(batchId)
    val bs = bandSigs(batch).persist() // batch-sized; read by 3 consumers
    try {
      // cross-batch: similar to any indexed (retained) doc → drop.
      // Every doc with a signature emits all k/r bands, so the band
      // list is known without a job over the batch.
      val crossDropped = indexForBands(0 until k / r, batchId).map { idx =>
        bs.join(idx.withColumnRenamed("sig", "idx_sig")
            .select(col("band"), col("band_key"), col("idx_sig")),
            Seq("band", "band_key"))
          .filter(estSim(col("sig"), col("idx_sig")) >= minSim)
          .select(col(idCol))
      }
      // within-batch: a doc loses to ANY verified-similar smaller id
      // (earliest-wins; a chain collapses onto its smallest member —
      // "similar to something already seen" counts dropped docs as
      // seen, exactly the Deduplicator's rule)
      val bucketPairs = bs.groupBy(col("band"), col("band_key"))
        .agg(collect_list(struct(col(idCol).as("id"), col("sig").as("sg"))).as("ms"))
        .filter(size(col("ms")) >= 2)
        .select(explode(col("ms")).as("a"), col("ms"))
        .select(col("a"), explode(col("ms")).as("b"))
        .filter(col("a.id") < col("b.id"))
        .filter(estSim(col("a.sg"), col("b.sg")) >= minSim)
      val intraDropped = bucketPairs.select(col("b.id").as(idCol))
      val droppedIds = crossDropped.fold(intraDropped)(_.unionByName(intraDropped))
      // the dropped ids are batch-sized: broadcast them rather than
      // shuffle the caller's batch into a sort-merge anti-join. They are
      // not deduplicated: a repeated key cannot change an anti-join
      val kept = batch.join(broadcast(droppedIds), Seq(idCol), "left_anti")
      // pin the kept-set BEFORE the index append (and before releasing
      // bs), then append from the pinned frame. Pinned after the write,
      // `kept` ran twice (the whole dedup pipeline and the caller's
      // batch), and with `retention` set the second run's
      // current_timestamp() could cross the horizon: a doc kept but
      // never indexed is re-admittable forever. A lazy pin with lineage
      // kept can recompute the same way, so the pin is eager.
      val pinned = kept.localCheckpoint()
      // index only survivors' bands; duplicates contribute no state
      index.write(bs.join(pinned.select(col(idCol)), Seq(idCol))
        .select(col(idCol), col("band"), col("band_key"), col("sig"),
          current_timestamp().as("ingest_ts")), batchId, layout)
      pinned
    } finally { bs.unpersist(); () }
  }

  /** Rows currently in the index (state-size observability/tests). */
  def indexSize(): Long = index.view().fold(0L)(_.count())

  /** Rewrite the index keeping only rows within the retention horizon
    * — reclaims storage for long-running pipelines. No-op without a
    * retention policy or an index. */
  def compact(): Unit = if (retention.nonEmpty) index.state().foreach(index.replace)
}
