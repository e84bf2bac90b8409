package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Merge

/** Streaming CDC materialization: fold changelog micro-batches into a
  * keyed snapshot table — the streaming twin of
  * [[graft.operators.ChangelogApply]] (one bounded changelog, one
  * shot) built on [[graft.operators.Merge]] (sequence-compared
  * conditional upsert). Drive from `foreachBatch`.
  *
  * Correctness under the conditions streams actually have (all pinned
  * by StreamingCdcSpec):
  *  - OUT-OF-ORDER deliveries: state keeps each key's op AND sequence;
  *    a change applies only when its sequence is strictly newer
  *    (lexicographic over `seqCols`), so a stale update arriving after
  *    a newer one — even batches later — is a no-op.
  *  - DELETES are retained as TOMBSTONES, not physical removals —
  *    otherwise a late pre-delete update would resurrect the key.
  *    [[snapshot]] filters them out; [[state]] shows them.
  *  - REPLAYED batches (foreachBatch's at-least-once contract) are
  *    idempotent: equal sequence does not overwrite, so re-applying a
  *    batch leaves the state byte-identical.
  *  - CRASH between write and swap: state advances one
  *    [[GenerationDir]] generation per batch, whose recovery adopts
  *    the complete generation a crash left.
  *
  * Scale shape: per batch, ONE map-side-combinable `max_by` compaction
  * of the batch (tiny after compaction) and ONE merge join against the
  * state — the state side shuffles on the key; at warehouse scale the
  * swap becomes a table-format transaction (Delta/Iceberg commit), the
  * plan is identical.
  */
final class StreamingCdc(
    spark: SparkSession,
    stateDir: String,
    keyCols: Seq[String],
    seqCols: Seq[String],
    opCol: String = "op") {
  require(keyCols.nonEmpty && seqCols.nonEmpty)

  private val store = new GenerationDir(spark, stateDir)

  /** Full state including tombstones and sequence columns. */
  def state: Option[DataFrame] = store.read()

  /** The live table: tombstones and bookkeeping columns dropped. */
  def snapshot: Option[DataFrame] =
    state.map(_.filter(col(opCol) =!= "D").drop(opCol))

  /** Lexicographic "s strictly newer than t" over the sequence cols. */
  private def newerThan: Column =
    seqCols.foldRight(lit(false)) { (c, rest) =>
      (col(s"s.$c") > col(s"t.$c")) ||
        (col(s"s.$c") === col(s"t.$c") && rest)
    }

  /** Apply one changelog micro-batch (rows: keys ++ seqs ++ op ++
    * payload). Call from `foreachBatch`; safe to replay. */
  def applyBatch(batch: DataFrame): Unit = {
    if (batch.isEmpty) return
    // latest change per key WITHIN the batch, keeping op + sequence
    val nonKey = batch.columns.filterNot(keyCols.contains).toSeq
    val compacted = batch
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(nonKey.map(col): _*),
        struct(seqCols.map(col): _*)).as("_w"))
      .select(keyCols.map(col) ++ nonKey.map(c => col(s"_w.$c").as(c)): _*)

    val merged = state match {
      case None => compacted
      case Some(st) => Merge.merge(st, compacted, keyCols,
        whenMatchedDelete = None,
        whenMatchedUpdate = Some(newerThan),
        whenNotMatchedInsert = Some(lit(true)))
    }

    // atomic generation swap: .next is complete before live is touched,
    // and a failed rename/delete fails the batch for retry instead of
    // silently keeping the old generation live while the stream
    // checkpoint advances
    store.write(merged)
  }
}
