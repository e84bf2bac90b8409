package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Checked filesystem primitives for the two atomic generation swaps:
  * [[promote]] (write `.next` fully, park live as `.old`, promote, drop
  * `.old`) for [[GenerationDir]], and
  * [[replaceLive]] (the `.compact` rewrite) for [[BatchPartitionedStore]]
  * and [[graft.operators.Compaction]]. Each comes with its recovery
  * probe, the one definition of its crash contract.
  *
  * Hadoop's `FileSystem.rename`/`delete` signal failure by RETURNING
  * FALSE (dest exists, src missing, concurrent writer), not by
  * throwing. An unchecked false here is the worst kind of failure: the
  * old generation stays live while `foreachBatch` completes, the
  * stream checkpoint advances past the batch, and its changes are lost
  * with no error anywhere. These wrappers turn every false into an
  * IOException so the swap either completes or the batch retries.
  *
  * FILESYSTEM CONTRACT: the choreography relies on directory `rename`
  * being atomic and O(1) — true on HDFS and POSIX, FALSE on raw object
  * stores (S3A emulates rename as copy+delete: non-atomic, and a crash
  * mid-"rename" leaves a partial copy the recovery probe can adopt).
  * Point state/index dirs at an HDFS-semantics filesystem (HDFS,
  * cluster-local disk, ABFS/GCS connectors with directory support);
  * for S3, front the state with an HDFS-compatible layer rather than
  * s3a paths. Same contract as Spark's own checkpoint dirs. */
private[graft] object GenerationSwap {

  def deleteIfExists(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"generation swap: delete failed for $p")

  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"generation swap: rename failed: $src -> $dst")

  /** Replace the live dir with a FULLY-WRITTEN sibling via the
    * rename-aside choreography (park live as `.old`, promote the
    * sibling, drop `.old`); [[recoverReplace]] adopts whichever
    * sibling survives a crash at any step. The sibling must be
    * complete before calling: every crash point then leaves either
    * the old live dir or a complete replacement. */
  def replaceLive(fs: FileSystem, liveDir: String, tmpDir: String): Unit = {
    val live = new Path(liveDir)
    val old = new Path(liveDir + ".old")
    renameOrThrow(fs, live, old)
    renameOrThrow(fs, new Path(tmpDir), live)
    deleteIfExists(fs, old)
  }

  /** Promote a fully-written `<stateDir>.next` to live. Ordering makes
    * every crash point recoverable by adopt-last-complete:
    * pre-promotion crashes leave live (or `.old`) intact; a crash
    * after the final rename leaves only a stale `.old` to sweep. */
  def promote(fs: FileSystem, stateDir: String): Unit = {
    val live = new Path(stateDir)
    val next = new Path(stateDir + ".next")
    val old = new Path(stateDir + ".old")
    deleteIfExists(fs, old)
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, next, live)
    deleteIfExists(fs, old)
  }

  /** Crash recovery for [[replaceLive]]: if a crash landed between
    * "live renamed aside" and "compacted dir renamed into place", the
    * live dir is missing but the fully-materialized `.compact` sibling
    * (or the untouched `.old`) holds the state — adopt it rather than
    * silently resetting (a quota state reset over-admits every
    * exhausted key; a near-dup index reset re-admits every duplicate).
    * Leftovers from a completed or recovered swap are dead state and
    * are swept. */
  def recoverReplace(fs: FileSystem, liveDir: String): Unit = {
    val live = new Path(liveDir)
    val tmp = new Path(liveDir + ".compact")
    val old = new Path(liveDir + ".old")
    if (!fs.exists(live)) {
      if (fs.exists(tmp)) renameOrThrow(fs, tmp, live)
      else if (fs.exists(old)) renameOrThrow(fs, old, live)
    }
    if (fs.exists(live)) {
      deleteIfExists(fs, tmp)
      deleteIfExists(fs, old)
    }
  }

  /** Crash recovery for [[promote]]: live missing → adopt the COMPLETE
    * (`_SUCCESS`-marked) `.next`, else roll back to `.old`. */
  def recoverPromote(fs: FileSystem, stateDir: String): Unit = {
    val live = new Path(stateDir)
    if (!fs.exists(live)) {
      if (fs.exists(new Path(stateDir + ".next/_SUCCESS")))
        renameOrThrow(fs, new Path(stateDir + ".next"), live)
      else if (fs.exists(new Path(stateDir + ".old")))
        renameOrThrow(fs, new Path(stateDir + ".old"), live)
    }
  }
}

/** A whole-table state dir advanced one generation per write: the ONE
  * owner of the [[GenerationSwap.promote]] protocol behind
  * [[StreamingCdc]] and [[StreamingProfile]]. [[write]] materializes
  * `<dir>.next` in full and then promotes it; the first read of an
  * instance runs [[GenerationSwap.recoverPromote]], which adopts
  * whichever complete generation a crash left.
  *
  * Reads carry the schema of the last read or write: a schemaless read
  * runs a footer-inference job per call (per micro-batch), and the dir
  * is instance-owned, so only the first read of an instance infers. */
private[streaming] final class GenerationDir(spark: SparkSession, dir: String) {

  private def fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Recovery runs once per instance start (the [[BatchPartitionedStore]]
    * rule: an in-process swap throws rather than crash silently). An
    * exception leaves the flag unset so the probe retries. */
  @volatile private var recovered = false
  @volatile private var schema: Option[StructType] = None

  private def hasState: Boolean = {
    if (!recovered) {
      GenerationSwap.recoverPromote(fs, dir)
      recovered = true
    }
    val p = new Path(dir)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** The live generation; None before the first write. */
  def read(): Option[DataFrame] =
    if (!hasState) None
    else Some(schema.fold {
      val df = spark.read.parquet(dir)
      schema = Some(df.schema)
      df
    }(spark.read.schema(_).parquet(dir)))

  /** Replace the live generation with `rows` (which may be read from it). */
  def write(rows: DataFrame): Unit = {
    val next = dir + ".next"
    GenerationSwap.deleteIfExists(fs, new Path(next))
    rows.write.mode("overwrite").parquet(next)
    GenerationSwap.promote(fs, dir)
    schema = Some(rows.schema)
  }
}
