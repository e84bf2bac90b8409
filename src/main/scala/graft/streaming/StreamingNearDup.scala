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
/** @param materialize pin strategy for the returned kept-set
  *   ([[graft.operators.Materialize]]) — must resolve to an EAGER
  *   strategy (LocalCheckpoint default, or ReliableCheckpoint /
  *   session conf `graft.materialize=reliable` for cluster runs under
  *   dynamic allocation): the kept frame must capture the exact rows
  *   whose bands were just appended to the index, and a LAZY pin with
  *   lineage kept could legally recompute — re-evaluating
  *   current_timestamp() and drifting from the persisted index. */
/** @param compactEvery fold the index's batch partitions automatically
  *   every N batches (0 = off) — StreamingQuota's mid-stream-safe
  *   discipline: rows of every batch EXCEPT the triggering one relabel
  *   into the `batch_id=-2` sentinel (only the current, uncommitted id
  *   can replay under foreachBatch, and its exclusion/overwrite needs
  *   its own partition — older attribution is dead weight), expired
  *   rows drop in the same rewrite when `retention` is set (they are
  *   already invisible to the live view), and the band layout +
  *   band_key sort carry through. Without the sweep the index grows
  *   batches × bands directories forever. Requires monotonically
  *   increasing batch ids. */
final class StreamingNearDup(spark: SparkSession, indexDir: String,
    idCol: String = "doc_id", textCol: String = "text",
    shingleN: Int = 3, k: Int = 12, r: Int = 2,
    minSim: Double = 0.7, retention: Option[String] = None,
    materialize: graft.operators.Materialize =
      graft.operators.Materialize.SessionDefault(
        "StreamingNearDup.kept"),
    compactEvery: Int = 0) {

  private def fs = new org.apache.hadoop.fs.Path(indexDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def hasIndex: Boolean = {
    recoverCompact()
    migrateLegacyLayout()
    val p = new org.apache.hadoop.fs.Path(indexDir)
    // the index is hive-partitioned by band: data lives in band=N
    // subdirectories (plus _SUCCESS markers at the top level)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      s.getPath.getName.startsWith("batch_id=") ||
        s.getPath.getName.startsWith("band=") ||
        s.getPath.getName.endsWith(".parquet")
    }
  }

  /** Upgrade guard for BOTH pre-`batch_id` index layouts: the
    * band-partitioned era (`band=` dirs only — no batch_id level or
    * column) and the original FLAT era before that (plain part files,
    * band as a data column). Either one left in place breaks the
    * first new-format batch: partition discovery rejects the mix
    * ("conflicting directory structures") and the `batch_id =!= id`
    * replay filter has no column to read. Detect them and rewrite the
    * rows under the `batch_id=-2` sentinel (visible to every replay
    * exclusion, attributable to no batch — the [[StreamingQuota]]
    * convention) with the shared crash-safe rename-aside swap,
    * preserving the retained-corpus index across the upgrade instead
    * of breaking or silently re-admitting every duplicate. Memoized
    * after the first successful probe (instance-owned dir, new writes
    * always new-format — no LIST per read forever); an exception
    * leaves the flag unset so the probe retries. */
  @volatile private var legacyChecked = false
  private def migrateLegacyLayout(): Unit = {
    if (legacyChecked) return
    migrateLegacyLayoutImpl()
    legacyChecked = true
  }
  private def migrateLegacyLayoutImpl(): Unit = {
    val live = new org.apache.hadoop.fs.Path(indexDir)
    if (!fs.exists(live)) return
    val entries = fs.listStatus(live)
    val legacyDirs = entries.filter(e =>
      e.isDirectory && e.getPath.getName.startsWith("band="))
    val legacyFlat = entries.filter(e =>
      e.isFile && e.getPath.getName.endsWith(".parquet"))
    if (legacyDirs.isEmpty && legacyFlat.isEmpty) return
    val bandLegacy =
      if (legacyDirs.isEmpty) None
      else Some(spark.read.option("basePath", indexDir)
        .parquet(legacyDirs.map(_.getPath.toString).toSeq: _*))
    // flat-era rows carry band as a DATA column — read without
    // basePath, the partitionBy below re-derives the directory layout
    val flatLegacy =
      if (legacyFlat.isEmpty) None
      else Some(spark.read
        .parquet(legacyFlat.map(_.getPath.toString).toSeq: _*))
    val legacy = (bandLegacy.toSeq ++ flatLegacy.toSeq)
      .reduce(_.unionByName(_))
      .withColumn("batch_id", lit(-2L))
    val newParts = entries.filter(e =>
      e.isDirectory && e.getPath.getName.startsWith("batch_id="))
    val merged =
      if (newParts.isEmpty) legacy
      else legacy.unionByName(spark.read.option("basePath", indexDir)
        .parquet(newParts.map(_.getPath.toString).toSeq: _*))
    replaceIndex(merged)
  }

  /** Rewrite the whole index as `rows` in the index layout (one file
    * per band, band_key-sorted) through the shared crash-safe swap —
    * [[recoverCompact]] adopts whichever sibling survives a crash. */
  private def replaceIndex(rows: DataFrame): Unit = {
    val tmp = indexDir + ".compact"
    rows.repartition(col("band"))
      .sortWithinPartitions(col("band"), col("band_key"))
      .write.partitionBy("batch_id", "band").mode("overwrite").parquet(tmp)
    GenerationSwap.replaceLive(fs, indexDir, tmp)
  }

  /** Crash recovery for [[compact]]'s swap —
    * [[GenerationSwap.recoverReplace]] (the shared crash contract).
    * Memoized after the first successful pass: recovery is only needed
    * once per instance start, and re-probing the filesystem on every
    * `indexView` read is a per-micro-batch LIST tax on object stores
    * (the same rationale as [[migrateLegacyLayout]]'s memo); an
    * exception leaves the flag unset so the probe retries. */
  @volatile private var recovered = false
  private def recoverCompact(): Unit = {
    if (recovered) return
    GenerationSwap.recoverReplace(fs, indexDir)
    recovered = true
  }

  // schema memo: every write after the legacy migration (which reads
  // the legacy layouts itself) uses one schema, and the dir is
  // instance-owned — the assumption the memos above already make
  private val index = new ParquetDir(spark, indexDir, Set("batch_id", "band"))

  /** The live view of the index: rows within the retention horizon. */
  private def indexView(): Option[DataFrame] =
    if (!hasIndex) None
    else {
      val all = index.read()
      Some(retention.fold(all)(h =>
        all.filter(col("ingest_ts") >= current_timestamp() - expr(s"INTERVAL $h"))))
    }

  /** Live index rows for the given bands only. `band` is the index's
    * HIVE PARTITION column, so the isin lands in the scan's
    * PartitionFilters — only the touched band directories are listed
    * and read, the layout PLANS.md promises. ([[processBatch]] asks
    * for every band — each doc emits all k/r of them — so the layout's
    * main scale win there is that within a band the files are sorted
    * by band_key, giving parquet row-group min/max skipping on the
    * join key.) */
  private[streaming] def indexForBands(bands: Seq[Any]): Option[DataFrame] =
    if (bands.isEmpty) None
    else indexView().map(_.filter(col("band").isin(bands: _*)))

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
    * REPLAY SAFETY: pass the foreachBatch `batchId`. Index rows carry
    * it, the cross-batch join EXCLUDES rows of the current id (a
    * replayed batch must not match its own first attempt's rows —
    * every survivor would self-match at estSim 1.0 and be dropped,
    * silently losing the whole batch), and the append overwrites only
    * this batch's own (batch_id, band) partitions, so a replay is
    * bit-identical instead of duplicating index rows. The default -1
    * keeps the legacy append-only behavior for bounded-loop callers
    * outside foreachBatch. */
  def processBatch(batch: DataFrame, batchId: Long = -1L): DataFrame = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactExcluding(batchId)
    val bs = bandSigs(batch).persist() // batch-sized; read by 3 consumers
    try {
      // cross-batch: similar to any indexed (retained) doc → drop.
      // Every doc with a signature emits all k/r bands, so the band
      // list is known without a job over the batch.
      val crossDropped = indexForBands(0 until k / r).map { idxAll =>
        val idx =
          if (batchId >= 0) idxAll.filter(col("batch_id") =!= batchId)
          else idxAll
        bs.join(idx.withColumnRenamed("sig", "idx_sig")
            .select(col("band"), col("band_key"), col("idx_sig")),
            Seq("band", "band_key"))
          .filter(estSim(col("sig"), col("idx_sig")) >= minSim)
          .select(col(idCol)).distinct()
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
      val intraDropped = bucketPairs.select(col("b.id").as(idCol)).distinct()
      val droppedIds = crossDropped.fold(intraDropped)(_.unionByName(intraDropped))
        .distinct()
      // the dropped ids are batch-sized: broadcast them rather than
      // shuffle the caller's batch into a sort-merge anti-join
      val kept = batch.join(broadcast(droppedIds), Seq(idCol), "left_anti")
      // pin the kept-set BEFORE the index append (and before releasing
      // bs): pinning AFTER the write evaluated `kept` TWICE — once
      // inside the append's join, once in the pin — re-running the
      // whole dedup pipeline (index scan, estSim verify, anti-join,
      // the caller's batch source) per micro-batch, and with
      // `retention` set the index view's current_timestamp() could
      // cross the horizon BETWEEN the two evaluations: the returned
      // kept-set would drift from the survivors whose bands were just
      // appended (a doc kept by the second evaluation but not indexed
      // by the first is re-admittable forever). One evaluation, one
      // truth: pin first, append from the pinned frame. The strategy
      // MUST be eager — a lazy pin with lineage kept reintroduces the
      // same drift on recompute, so reject it loudly.
      // resolveEagerFor: a session-conf 'persist' (the advertised
      // one-flag knob) falls back to LocalCheckpoint with a warning;
      // an EXPLICITLY passed lazy strategy still fails this require
      val m = materialize.resolveEagerFor(kept)
      require(m.isEager, s"StreamingNearDup needs an EAGER Materialize " +
        s"strategy (LocalCheckpoint or ReliableCheckpoint), got $m — a " +
        "lazy pin may recompute and drift from the just-appended index")
      val pinned = m(kept)
      // index only survivors' bands; duplicates contribute no state.
      // Layout: hive-partitioned by band (the join's directory prune),
      // one file per band per batch (the repartition), rows sorted by
      // band_key within it (parquet row-group min/max skipping on the
      // join key at corpus scale). All batch-sized work.
      val rows = bs.join(pinned.select(col(idCol)), Seq(idCol))
        .select(col(idCol), col("band"), col("band_key"), col("sig"),
          current_timestamp().as("ingest_ts"),
          lit(batchId).as("batch_id"))
        .repartition(col("band"))
        .sortWithinPartitions(col("band"), col("band_key"))
      val w = rows.write.partitionBy("batch_id", "band")
      if (batchId >= 0)
        // dynamic overwrite: a replay rewrites EXACTLY its own
        // (batch_id, band) partitions — idempotent appends
        w.option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(indexDir)
      else w.mode("append").parquet(indexDir)
      pinned
    } finally { bs.unpersist(); () }
  }

  /** Rows currently in the index (state-size observability/tests). */
  def indexSize(): Long = if (hasIndex) index.read().count() else 0L

  /** The mid-stream-safe fold behind `compactEvery`: rows of every
    * batch EXCEPT `batchId`'s relabel into the -2 sentinel (a pure
    * relabel — index rows are individual entries, nothing aggregates),
    * expired rows drop when `retention` is set, and the live id's
    * partition carries over untouched for its replay exclusion and
    * dynamic overwrite. Idempotent under replay re-triggering. */
  private def compactExcluding(batchId: Long): Unit = if (hasIndex) {
    val all = index.read()
    val old = all.filter(col("batch_id") =!= batchId)
    val folded = retention.fold(old)(h =>
        old.filter(col("ingest_ts") >= current_timestamp() - expr(s"INTERVAL $h")))
      .withColumn("batch_id", lit(-2L))
    replaceIndex(folded.unionByName(all.filter(col("batch_id") === batchId)))
  }

  /** Rewrite the index keeping only rows within the retention horizon
    * — reclaims storage for long-running pipelines. No-op without a
    * retention policy or an index. */
  def compact(): Unit =
    if (retention.nonEmpty && hasIndex) indexView().foreach(replaceIndex)
}
