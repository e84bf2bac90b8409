package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one crash-safe directory swap: [[replace]] rewrites a live dir
  * through two hidden siblings and [[recover]] settles whatever a crash
  * left. Its users are [[GenerationDir]], [[BatchPartitionedStore]],
  * [[graft.operators.Compaction]] and `FilePubSub.compact`.
  *
  * SIBLINGS: `<parent>/.<name>.next` (the generation being written) and
  * `<parent>/.<name>.old` (the parked live dir). Dot-prefixed, so Spark
  * readers, partition discovery (a `.k=1.old` beside `k=2` is skipped,
  * a `k=1.old` would read as partition value `1.old`) and FilePubSub's
  * topic namespace never see them.
  *
  * Hadoop's `FileSystem.rename`/`delete` signal failure by RETURNING
  * FALSE (dest exists, src missing, concurrent writer), not by
  * throwing. An unchecked false here is the worst kind of failure: the
  * old generation stays live while `foreachBatch` completes, the
  * stream checkpoint advances past the batch, and its changes are lost
  * with no error anywhere. These wrappers turn every false into an
  * IOException so the swap either completes or the batch retries.
  *
  * FILESYSTEM CONTRACT: the swap relies on directory `rename` being
  * atomic and O(1) — true on HDFS and POSIX, FALSE on raw object
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

  /** (live, next, old) for `dir`: the one naming rule. */
  private def siblings(dir: String): (Path, Path, Path) = {
    val live = new Path(dir)
    def sibling(suffix: String) = new Path(live.getParent, s".${live.getName}.$suffix")
    (live, sibling("next"), sibling("old"))
  }

  /** Replace `dir` with what `write` puts at the path it is handed (the
    * cleared next sibling; `write` may read the live dir). The live dir,
    * if any, is parked as the old sibling (a stale one is dropped
    * first, or the rename would fail), the next one is renamed into
    * place and the old one dropped, so every crash point leaves a
    * complete generation for [[recover]] to adopt. */
  def replace(fs: FileSystem, dir: String)(write: String => Unit): Unit = {
    val (live, next, old) = siblings(dir)
    deleteIfExists(fs, next)
    write(next.toString)
    deleteIfExists(fs, old)
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, next, live)
    deleteIfExists(fs, old)
  }

  /** Settle a crashed [[replace]]. Live missing: adopt the next sibling
    * when it carries `_SUCCESS` (its write finished), else roll back to
    * the old one; a partial next with no old (a crashed first write) is
    * left for the next [[replace]] to clear. Live present: both
    * siblings are dead state and are swept. Adopting rather than
    * starting empty matters: a quota state reset over-admits every
    * exhausted key, a near-dup index reset re-admits every duplicate. */
  def recover(fs: FileSystem, dir: String): Unit = {
    val (live, next, old) = siblings(dir)
    if (!fs.exists(live)) {
      if (fs.exists(new Path(next, "_SUCCESS"))) renameOrThrow(fs, next, live)
      else if (fs.exists(old)) renameOrThrow(fs, old, live)
    }
    if (fs.exists(live)) {
      deleteIfExists(fs, next)
      deleteIfExists(fs, old)
    }
  }
}

/** A whole-table state dir advanced one generation per write: the ONE
  * owner of the generation protocol behind [[StreamingCdc]] and
  * [[StreamingProfile]]. [[write]] is one [[GenerationSwap.replace]];
  * the first read of an instance runs [[GenerationSwap.recover]].
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
      GenerationSwap.recover(fs, dir)
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
    GenerationSwap.replace(fs, dir)(rows.write.mode("overwrite").parquet)
    schema = Some(rows.schema)
  }
}
