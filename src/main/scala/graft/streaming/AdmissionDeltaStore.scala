package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The batch-partitioned state store: the ONE definition of the
  * on-disk protocol behind every replayable `foreachBatch` operator
  * ([[StreamingQuota]], [[StreamingNearDup]], [[StreamingDomainQuota]],
  * [[StreamingMixtureQuota]]) — redelivery mapped onto replayed
  * micro-batches with an idempotent sink.
  *
  * Layout: rows live under `dir`, hive-partitioned by `partitionCols`
  * (`batch_id` first, then any operator column such as `band`). Only
  * `batch_id=` dirs and `_`/`.`-prefixed marker files may sit at the
  * top level; anything else (flat part files, `band=` dirs) is a layout
  * that predates `batch_id` partitioning and fails loudly rather than
  * being read as state.
  *
  * REPLAY: under `foreachBatch` only the current, uncommitted batch id
  * can re-run. [[state]]`(id)` excludes that id's own partition (a
  * replayed batch must judge against everything EXCEPT its first
  * attempt, or it double-counts budgets / self-matches every survivor)
  * and [[write]]`(rows, id)` dynamic-overwrites exactly that id's
  * partitions, so a replay is bit-identical. An id of -1 means a
  * bounded-loop caller outside `foreachBatch`: nothing is excluded and
  * writes append.
  *
  * COMPACTION: `compactEvery` = N > 0 folds the partitions every N
  * batches (0 = off). Every batch EXCEPT the triggering one folds into
  * the `batch_id=-2` sentinel (visible to every replay view,
  * attributable to none) — earlier ids are checkpoint-committed, so
  * their attribution is dead weight — while the live id keeps its
  * partition for the replay exclusion and overwrite; re-triggering on a
  * replay is idempotent. Requires monotonically increasing batch ids
  * (foreachBatch's own contract). Without it the dir grows one
  * partition per micro-batch forever. [[compact]] is the quiescent form
  * that folds every batch (run it only for committed ids).
  *
  * CRASH SAFETY: a fold is written in full to `<dir>.compact` and
  * swapped in by [[GenerationSwap.replaceLive]]; the first read of an
  * instance runs [[GenerationSwap.recoverReplace]], which adopts
  * whichever sibling a crash left, so a restart never silently resets
  * state (an over-admitting quota, a re-admitting near-dup index).
  *
  * What stays with each operator: its partition columns, its `fold`
  * (the live state of a set of rows, e.g. a sum per key; it must be
  * idempotent over already-folded rows), its `layout` for whole-dir
  * rewrites, and its admission or dedup rule.
  */
private[streaming] final class BatchPartitionedStore(spark: SparkSession,
    dir: String, partitionCols: Seq[String], compactEvery: Int,
    layout: DataFrame => DataFrame, fold: DataFrame => DataFrame) {

  private def fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Recovery is needed once per instance start (an in-process swap
    * throws rather than crash silently); re-probing on every read
    * would be a per-micro-batch LIST tax on object stores. An exception
    * leaves the flag unset so the probe retries. */
  @volatile private var recovered = false

  private def hasState: Boolean = {
    if (!recovered) {
      GenerationSwap.recoverReplace(fs, dir)
      recovered = true
    }
    val p = new Path(dir)
    fs.exists(p) && {
      val names = fs.listStatus(p).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      val foreign = names.filterNot(_.startsWith("batch_id="))
      if (foreign.nonEmpty) throw new IllegalStateException(
        s"$dir holds ${foreign.take(3).mkString(", ")}: a layout that " +
          "predates batch_id partitioning, which is not read as state")
      names.nonEmpty
    }
  }

  /** A schemaless read runs a footer-inference job per call (per
    * micro-batch); the dir is instance-owned and always written with
    * one schema, so the data schema is memoized after the first read.
    * Partition columns stay out of the memo and are still inferred from
    * the directory names (a listing, no job). */
  @volatile private var dataSchema: Option[StructType] = None

  private def readAll(): DataFrame = dataSchema.fold {
    val df = spark.read.parquet(dir)
    dataSchema = Some(StructType(df.schema.filterNot(f => partitionCols.contains(f.name))))
    df
  }(spark.read.schema(_).parquet(dir))

  /** Raw rows, minus batch `excluding`'s own partition when it is
    * >= 0 (the replay view); None before the first write. */
  def view(excluding: Long = -1L): Option[DataFrame] =
    if (!hasState) None
    else {
      val all = readAll()
      Some(if (excluding >= 0) all.filter(col("batch_id") =!= excluding) else all)
    }

  /** The operator's live state: its fold over the replay view. */
  def state(excluding: Long = -1L): Option[DataFrame] = view(excluding).map(fold)

  /** Write one batch's rows under `batch_id=batchId`: append for -1, a
    * dynamic overwrite of that id's partitions otherwise. `laidOut`
    * arranges the rows (batch_id included) before the write. */
  def write(rows: DataFrame, batchId: Long,
      laidOut: DataFrame => DataFrame = identity): Unit = {
    // a Long literal is inlined into generated code (a new class per
    // batch); a string one is passed by reference. Same directory name.
    val w = laidOut(rows.withColumn("batch_id", lit(batchId.toString)))
      .write.partitionBy(partitionCols: _*)
    if (batchId >= 0)
      w.option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(dir)
    else w.mode("append").parquet(dir)
  }

  /** The `compactEvery` trigger; call at the start of each batch. */
  def compactIfDue(batchId: Long): Unit =
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      state(batchId).foreach { folded =>
        replace(sentinel(folded)
          .unionByName(readAll().filter(col("batch_id") === batchId)))
      }

  /** Fold every batch into the sentinel partition. */
  def compact(): Unit = state().foreach(s => replace(sentinel(s)))

  private def sentinel(folded: DataFrame): DataFrame =
    folded.withColumn("batch_id", lit(-2L))

  /** Rewrite the whole dir as `rows` (which may be read from it):
    * written to the `.compact` sibling first, then swapped in. */
  def replace(rows: DataFrame): Unit = {
    val tmp = dir + ".compact"
    layout(rows).write.partitionBy(partitionCols: _*).mode("overwrite").parquet(tmp)
    GenerationSwap.replaceLive(fs, dir, tmp)
  }
}

private[streaming] object BatchPartitionedStore {
  /** The fold of per-batch count deltas: one row per key, each value
    * column summed (exact Long sums commute, so folded rows fold again
    * to themselves). */
  def sumPerKey(key: String, values: Seq[String])(rows: DataFrame): DataFrame =
    rows.groupBy(col(key)).agg(sum(col(values.head)).as(values.head),
      values.tail.map(v => sum(col(v)).as(v)): _*)
}

/** Per-key admission state shared by the incremental-admission
  * operators ([[StreamingDomainQuota]], [[StreamingMixtureQuota]]) and
  * their pure folds ([[DomainQuota.admitIncrement]],
  * [[MixtureQuota.admitIncrement]]): one `(key, n_docs, n_admitted,
  * admitted_id_sum)` row per key, every column an exact Long sum
  * (admitted_id_sum pins exact MEMBERSHIP cross-engine, the q181
  * keeper-sum rule). The operators differ only in the admission rule,
  * which [[admit]] runs.
  *
  * Scale: state is per-key (control-plane-sized — one row per domain or
  * stratum, never row-scaled); every fold is a map-side-combined sum
  * over the pruned four-column parquet. */
private[streaming] object AdmissionDeltaStore {

  val Counts: Seq[String] = Seq("n_docs", "n_admitted", "admitted_id_sum")

  /** The store for one operator's per-key deltas under `stateDir`. */
  def open(spark: SparkSession, stateDir: String, key: String,
      compactEvery: Int): BatchPartitionedStore =
    new BatchPartitionedStore(spark, stateDir, Seq("batch_id"), compactEvery,
      _.repartition(1), BatchPartitionedStore.sumPerKey(key, Counts))

  /** Zero-key starting state in the canonical schema. */
  def emptyState(spark: SparkSession, key: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(StructField(key, StringType) +: Counts.map(StructField(_, LongType))))
  }

  /** `state` in the canonical column types. */
  def canonical(state: DataFrame, key: String): DataFrame =
    state.select(col(key).cast("string").as(key) +:
      Counts.map(c => col(c).cast("long").as(c)): _*)

  /** Per-key counts of `adm`-flagged `(doc_id, key)` verdicts. */
  def increment(verdicts: DataFrame, key: String): DataFrame =
    verdicts.groupBy(col(key))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("adm"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("adm"), col("doc_id")).otherwise(0L)).as("admitted_id_sum"))

  /** `state` + `inc` per key (a key on either side only keeps its own
    * counts). */
  def plus(state: DataFrame, inc: DataFrame, key: String): DataFrame =
    state.join(inc.select(col(key) +: Counts.map(c => col(c).as("i_" + c)): _*),
        Seq(key), "full_outer")
      .select(col(key) +: Counts.map(c =>
        (coalesce(col(c), lit(0L)) + coalesce(col("i_" + c), lit(0L))).as(c)): _*)

  /** `st`'s per-key `n_docs` and a 1 per `nd` row, as one union: a
    * rule's totals under the NEW corpus are ONE aggregate over it. */
  def counts(st: DataFrame, nd: DataFrame, key: String): DataFrame =
    st.select(col(key), col("n_docs"))
      .unionByName(nd.select(col(key), lit(1L).as("n_docs")))

  /** `nd` ranked per key in md5 order (the q169 discipline), with the
    * slots its key's state already consumed (`a0`) and the one-row
    * `consts`; the state join reuses the window's hash partitioning. */
  def ranked(nd: DataFrame, st: DataFrame, key: String,
      consts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    nd.withColumn("rn", row_number().over(w))
      .join(st.select(col(key), col("n_admitted").as("a0")), Seq(key), "left")
      .na.fill(0L, Seq("a0"))
      .crossJoin(broadcast(consts))
  }

  private val Row = "__row" // the caller's whole row, one struct column

  /** One replay-safe admission step: `rule(state, canonical)` flags
    * each canonical `(doc_id, key, __row)` row of `batch` with `adm`;
    * the per-key delta written and the admitted rows returned (in
    * `batch`'s schema) both derive from that ONE pinned verdict frame.
    * Both pins are eager `localCheckpoint()`s: the returned rows are
    * the exact set whose delta was just written, and a lost executor
    * fails the micro-batch, which is re-run. The rule reads
    * `canonical` twice (totals, rank window), so the caller's batch
    * runs once, in its pin; the folded state (one row per key) is read
    * twice, inside the verdict pin. */
  def admit(store: BatchPartitionedStore, key: String,
      batch: DataFrame, batchId: Long, idCol: String, keyCol: String)(
      rule: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    store.compactIfDue(batchId)
    val st = store.state(batchId).getOrElse(emptyState(batch.sparkSession, key))
    val canonical = batch.select(col(idCol).cast("long").as("doc_id"),
      col(keyCol).cast("string").as(key),
      struct(batch.columns.map(c => col(s"`$c`")): _*).as(Row)).localCheckpoint()
    val verdicts = rule(st, canonical).localCheckpoint()
    store.write(increment(verdicts, key), batchId)
    verdicts.filter(col("adm")).select(col(Row + ".*"))
  }
}
