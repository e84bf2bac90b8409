package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Size-targeted parquet compaction — the small-files operator. A
  * streaming sink or a many-task write leaves thousands of KB-sized
  * files; every downstream scan then pays per-file open/footer/seek
  * cost, and at 100 TB the NameNode/listing overhead alone dominates.
  * Compaction rewrites a directory into files near a target size,
  * optionally range-clustered on sort keys so parquet min/max footers
  * become disjoint ranges (scan pruning — the 1-D sibling of
  * [[graft.functions.ZOrder]], which handles the 2-D case).
  *
  * File count comes from the directory's ACTUAL byte size (an FS
  * listing — metadata, not data), never from in-memory plan estimates
  * that miss parquet's compression ratio. The rewrite is one
  * [[graft.streaming.GenerationSwap.replace]], after a
  * [[graft.streaming.GenerationSwap.recover]] that settles an earlier
  * crashed one.
  */
object Compaction {

  /** Rewrite `dir` into ~`targetBytes` parquet files; returns the
    * output file count. With `sortBy`, files are range-partitioned and
    * internally sorted on those keys (globally disjoint ranges). */
  def compactParquet(spark: SparkSession, dir: String, targetBytes: Long,
      sortBy: Seq[String] = Nil): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(dir)
    graft.streaming.GenerationSwap.recover(fs, dir)
    val entries = fs.listStatus(live)
    // partitioned layouts (key=value subdirs) would be read through
    // partition discovery and rewritten FLAT — partition columns
    // demoted to data, downstream pruned readers broken, and the
    // non-recursive size here would read 0 bytes and force ONE output
    // file. Refuse loudly: compact partitioned tables per partition.
    val partDirs = entries.filter(e => e.isDirectory &&
      e.getPath.getName.contains("="))
    require(partDirs.isEmpty,
      s"compactParquet: $dir is hive-partitioned " +
        s"(${partDirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "compact each partition directory, not the table root " +
        "(a flat rewrite would demote partition columns to data)")
    val total = entries.iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt

    val df = spark.read.parquet(dir)
    val out =
      if (sortBy.nonEmpty)
        df.repartitionByRange(nFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.repartition(nFiles)
    graft.streaming.GenerationSwap.replace(fs, dir)(out.write.mode("overwrite").parquet)
    nFiles
  }
}
