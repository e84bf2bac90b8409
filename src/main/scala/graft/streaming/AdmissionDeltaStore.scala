package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared durable-state machinery behind the incremental-admission
  * operators ([[StreamingDomainQuota]], [[StreamingMixtureQuota]]):
  * per-key admission state under `stateDir` in [[StreamingQuota]]'s
  * append-only delta discipline — one `(key, n_docs, n_admitted,
  * admitted_id_sum)` row per key per batch in a `batch_id=N`
  * partition; the live state is the per-key SUM of deltas (every
  * column is an exact Long sum, so folding commutes), with the
  * replay-safe batch-id exclusion and the crash-safe
  * [[GenerationSwap]] compaction choreography.
  *
  * What stays OUT of the store is the admission rule itself (domain
  * fair-share cap vs target-share mixture cap): the operators differ
  * only there, so the rule is the one thing each keeps and [[admit]]
  * runs it.
  *
  * Scale: state is per-key (control-plane-sized — one row per domain
  * or stratum, never row-scaled); every fold is a map-side-combined
  * sum over the pruned four-column parquet. */
private[streaming] final class AdmissionDeltaStore(spark: SparkSession,
    stateDir: String, keyName: String, owner: String, compactEvery: Int) {

  private def fs = new org.apache.hadoop.fs.Path(stateDir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private val deltas = new ParquetDir(spark, stateDir, Set("batch_id"))

  @volatile private var recovered = false
  private def recoverCompact(): Unit = {
    if (recovered) return
    GenerationSwap.recoverReplace(fs, stateDir)
    recovered = true
  }

  private def hasState: Boolean = {
    recoverCompact()
    val p = new org.apache.hadoop.fs.Path(stateDir)
    fs.exists(p) && fs.listStatus(p).exists(
      _.getPath.getName.startsWith("batch_id="))
  }

  /** Live per-key state (the fold of all deltas); None before the
    * first admission. `batchId >= 0` excludes that id's own partition
    * — the replay-safety rule: a replayed batch budgets against
    * everything EXCEPT its own first attempt. */
  private def stateExcluding(batchId: Long): Option[DataFrame] =
    if (!hasState) None
    else {
      val all = deltas.read()
      val visible =
        if (batchId >= 0) all.filter(col("batch_id") =!= batchId) else all
      Some(visible.groupBy(col(keyName))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_admitted")).as("n_admitted"),
          sum(col("admitted_id_sum")).as("admitted_id_sum")))
    }

  def state(): Option[DataFrame] = stateExcluding(-1L)

  /** Append (or, for a replayed non-negative id, dynamic-overwrite)
    * one batch's per-key delta partition. */
  private def writeDelta(delta: DataFrame, batchId: Long): Unit = {
    val dw = delta.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
    if (batchId >= 0)
      dw.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(stateDir)
    else dw.mode("append").parquet(stateDir)
  }

  /** One replay-safe admission step: `rule(state, canonical)` flags
    * each canonical `(doc_id, key)` row of `batch` with `adm`; the
    * per-key delta is appended and `batch`'s admitted rows return in
    * its original schema. The pin must be EAGER: the returned rows are
    * the exact set whose delta was just written (a lazy pin could
    * recompute against a grown state). The rule reads the folded state
    * (one row per key) and `canonical` three times each, the verdicts
    * feed the join-back and the delta: unpinned, every admit would
    * re-aggregate the delta parquet and re-run the caller's batch plan
    * up to four times. */
  def admit(batch: DataFrame, batchId: Long, idCol: String,
      materialize: graft.operators.Materialize, canonical: DataFrame)(
      rule: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactExcluding(batchId)
    val m = materialize.resolveEagerFor(batch)
    require(m.isEager, s"$owner needs an EAGER Materialize " +
      s"strategy (LocalCheckpoint or ReliableCheckpoint), got $m — a " +
      "lazy pin could recompute the admitted set against a grown state")
    val st = stateExcluding(batchId).map(m(_))
      .getOrElse(AdmissionDeltaStore.emptyState(spark, keyName))
    val verdicts = m(rule(st, m(canonical)))
    // the admitted-id set is batch-sized: broadcast explicitly so AQE
    // never sorts a micro-batch for a few-row join
    val admittedIds = verdicts.filter(col("adm")).select(col("doc_id").as("__adm_id"))
    val admitted = m(batch.join(broadcast(admittedIds),
      col(idCol).cast("long") === col("__adm_id")).drop("__adm_id"))
    writeDelta(verdicts.groupBy(col(keyName))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("adm"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("adm"), col("doc_id")).otherwise(0L))
          .as("admitted_id_sum")), batchId)
    admitted
  }

  /** The mid-stream-safe fold (StreamingQuota's discipline): every
    * delta EXCEPT `batchId`'s own partition collapses into the -2
    * sentinel; the live id's partition carries over untouched so a
    * replay of it still excludes and overwrites its first attempt.
    * Idempotent under replay re-triggering. */
  private def compactExcluding(batchId: Long): Unit = stateExcluding(batchId).foreach { folded =>
    replaceState(folded.withColumn("batch_id", lit(-2L))
      .unionByName(deltas.read().filter(col("batch_id") === batchId)))
  }

  /** Fold everything into one `batch_id=-2` sentinel partition
    * (crash-safe: [[GenerationSwap]] — a crash can never silently
    * reset budgets). */
  def compact(): Unit =
    state().foreach(s => replaceState(s.withColumn("batch_id", lit(-2L))))

  private def replaceState(rows: DataFrame): Unit = {
    val tmp = stateDir + ".compact"
    rows.repartition(1).write.partitionBy("batch_id").mode("overwrite").parquet(tmp)
    GenerationSwap.replaceLive(fs, stateDir, tmp)
  }
}

private[streaming] object AdmissionDeltaStore {
  /** Zero-key starting state in the canonical schema. */
  def emptyState(spark: SparkSession, keyName: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField(keyName, StringType),
        StructField("n_docs", LongType),
        StructField("n_admitted", LongType),
        StructField("admitted_id_sum", LongType))))
  }
}

/** `spark.read.parquet(dir)` for a dir its owner always writes with one
  * schema: a schemaless read runs a footer-inference job per call (per
  * micro-batch), so the data schema is memoized after the first read.
  * Partition columns stay out of the memo and are still inferred from
  * the directory names (a listing, no job). */
private[streaming] final class ParquetDir(spark: SparkSession, dir: String,
    partitionCols: Set[String]) {
  @volatile private var dataSchema: Option[StructType] = None

  def read(): DataFrame = dataSchema.fold {
    val df = spark.read.parquet(dir)
    dataSchema = Some(StructType(df.schema.filterNot(f => partitionCols(f.name))))
    df
  }(spark.read.schema(_).parquet(dir))
}
