package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Count-Min sketch: fixed-size point-frequency summary — "how often
  * did THIS key occur" over a key space too large to groupBy-count,
  * in depth×width longs regardless of corpus size. The complement of
  * [[HeavyHitters]] (which finds the frequent keys but answers no
  * point queries): run Misra-Gries to surface candidates, Count-Min to
  * estimate any key on demand.
  *
  * Guarantees (Cormode & Muthukrishnan '05): estimates NEVER
  * undercount; overcount is ≤ 2n/width with probability ≥ 1 - 2^-depth
  * per query. Unlike Misra-Gries' rank-truncating combine, the merge
  * here is an ELEMENTWISE SUM — exactly lossless — so the distributed
  * estimate equals the single-pass estimate for every partitioning
  * (CountMinSpec pins this equality, not just the bounds).
  *
  * The sketch is a [[Summary]]: its two aggregators give it the
  * build/merge lifecycle, the null-state rule and the shape check (a
  * stored sketch holds depth×width longs). The [[sketch]] output is
  * itself the storable state; only depth×width-long buffers shuffle,
  * never raw keys. Hashes are seeded MurmurHash3 (JVM-stable,
  * partition-independent).
  */
object CountMin {

  val Depth = 4
  private val Seeds = Array(0x9747b28c, 0x41c64e6d, 0x2545f491, 0x6b43a9b5)

  private[functions] def bucket(key: String, row: Int, width: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(key, Seeds(row))
    ((h % width) + width) % width
  }

  /** Point query against a finished sketch (row-major depth×width). */
  def estimate(sketch: Array[Long], key: String): Long = {
    val width = sketch.length / Depth
    (0 until Depth).map(r => sketch(r * width + bucket(key, r, width))).min
  }

  final class Sketch(width: Int) extends Summary[String, Array[Long]] {
    require(width >= 1, s"width must be positive: $width")
    override def zero: Array[Long] = new Array[Long](Depth * width)
    override def add(buf: Array[Long], key: String): Array[Long] = {
      if (key == null) return buf // built-in aggregates skip nulls; so do we
      var r = 0
      while (r < Depth) {
        buf(r * width + bucket(key, r, width)) += 1L
        r += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def check(st: Array[Long]): Unit =
      require(st.length == Depth * width,
        s"stored CountMin state: expected length ${Depth * width} " +
          s"($Depth x $width), found ${st.length}")
    override def inputEncoder: Encoder[String] = Encoders.STRING
    override def stateEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Aggregate column: ARRAY<BIGINT> of depth×width counters over the
    * group's keys (whole table when ungrouped). */
  def sketch(key: Column, width: Int): Column =
    Summary.buildState(new Sketch(width))(key)

  /** Aggregate stored sketches → merged sketch. The combine is the same
    * exactly-lossless elementwise sum, so estimates from merged
    * per-slice states EQUAL the single-pass estimates, bit-for-bit
    * (CountMinSpec pins the equality). */
  def mergeSketches(state: Column, width: Int): Column =
    Summary.mergeState(new Sketch(width))(state)
}
