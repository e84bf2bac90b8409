package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Z-order (Morton) clustering: interleave the bits of two dimension
  * keys so that sorting by ONE value keeps rows close in BOTH — the
  * multi-dimensional data-layout trick behind Delta/Iceberg OPTIMIZE
  * ZORDER. At 100 TB the payoff is file skipping: parquet min/max
  * stats per file become tight boxes in (x, y) space instead of
  * stripes, so a query filtering on either (or both) dimensions prunes
  * most files at planning time — no index structure, just sort order.
  *
  * The kernel is [[ZOrderUtil.interleave16]] (5 shift/mask steps
  * per dimension — the standard bit-spread, no loop), so z-values ride
  * the scan inside whole-stage codegen. Layout itself is plain
  * `repartitionByRange(zvalue).sortWithinPartitions(zvalue)`: range
  * partitioning gives globally disjoint z-ranges per output file,
  * which is exactly what min/max pruning needs.
  */
object ZOrder {

  /** Z-value of two 16-bit dimension keys (callers bucket/rank real
    * columns into 0..65535 first — rank-normalizing first makes the
    * curve robust to skewed value distributions). */
  def zvalue16(x: Column, y: Column): Column =
    Kernel.static(ZOrderUtil, "interleave16", LongType,
      x.cast("int") -> IntegerType, y.cast("int") -> IntegerType)

  /** Cluster `df` for scans that filter on either interleaved
    * dimension: range-partition into `files` disjoint z-ranges, sort
    * inside each. The z column is dropped — layout is a physical
    * property, not data. */
  def cluster(df: DataFrame, x: Column, y: Column, files: Int): DataFrame = {
    // append-to-original-frame shape: the internal name fails fast —
    // a caller's real __z column would be replaced and then dropped
    require(!df.columns.contains("__z"),
      "column name __z is reserved by ZOrder.cluster")
    df.withColumn("__z", zvalue16(x, y))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }
}

object ZOrderUtil {
  /** Spread the low 16 bits of `v` to the even bit positions of a
    * long: abcd -> 0a0b0c0d (4 shift-or-mask rounds). */
  def spread16(v: Int): Long = {
    var x = (v & 0xFFFFL)
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** Morton interleave: x in even bits, y in odd bits (so ordering is
    * x-major on ties — deterministic and engine-reproducible). */
  def interleave16(x: Int, y: Int): Long =
    spread16(x) | (spread16(y) << 1)
}
