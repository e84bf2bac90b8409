package graft.functions

import java.util.Arrays

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Mergeable distinct-count sketch (HyperLogLog, Flajolet et al. '07,
  * with the HLL++-style sparse-exact low range of Heule et al. '13):
  * "how many distinct keys" over a key space too large to
  * groupBy-distinct, in 2^p longs regardless of corpus size.
  * Completes the sketch shelf: [[HeavyHitters]] (which keys are
  * frequent), [[CountMin]] (how often is THIS key), this (how many
  * keys at all).
  *
  * Input is a 64-BIT HASH, not the raw key — pair it with the
  * codegen'd `xxhash64(...)` so hashing rides the scan and the
  * aggregator sees only longs. Register index = top p bits; rho =
  * leading zeros of the remainder + 1.
  *
  * Two regimes, promoted one-way:
  *  - SPARSE (≤ sparseMax distinct hashes): the exact sorted hash set.
  *    The estimate is the set size — exact to the hash, which is what
  *    the q121 oracle gate hash-matches against a true
  *    COUNT(DISTINCT) (collision odds at gate scale ~1e-12, and
  *    deterministic either way).
  *  - DENSE: 2^p max-of-rho registers; bias-corrected harmonic-mean
  *    estimate with linear counting below 2.5·m. Relative error
  *    ~1.04/√m (p=12 → 1.6%); DistinctSketchSpec pins a 3σ envelope.
  *
  * Every merge path (sparse∪sparse, sparse→dense fold, dense max) is
  * commutative, associative, and idempotent — the estimate is
  * IDENTICAL under any partitioning or merge order, a strictly
  * stronger property than the compaction sketches can offer (the spec
  * asserts equality across 1/7/32-partition runs, not just bounds).
  *
  * The sketch is a [[Summary]]: its two aggregators give it the
  * build/merge lifecycle, the null-state rule and the shape check (a
  * dense state holds 1 + 2^p longs, a sparse one 2 + n). Map-side
  * partial sketches, register-array shuffles only; raw keys never leave
  * the scan stage.
  */
object DistinctSketch {

  /** Buffer: sparse = [0, n, h_0 … h_{n-1}, unused…] (sorted hashes,
    * doubling capacity); dense = [1, M_0 … M_{m-1}] (rho registers). */
  final class Sketch(p: Int, sparseMax: Int) extends Summary[Long, Array[Long]] {
    require(p >= 7 && p <= 18, s"p out of range [7,18]: $p")
    require(sparseMax >= 0, s"sparseMax must be >= 0: $sparseMax")
    private val m = 1 << p

    override def zero: Array[Long] = Array(0L, 0L, 0L, 0L)

    private def rho(h: Long): Int = {
      val w = h << p
      if (w == 0L) 64 - p + 1 else java.lang.Long.numberOfLeadingZeros(w) + 1
    }

    private def denseAdd(buf: Array[Long], h: Long): Unit = {
      val j = 1 + (h >>> (64 - p)).toInt
      val r = rho(h).toLong
      if (r > buf(j)) buf(j) = r
    }

    private def toDense(sparse: Array[Long]): Array[Long] = {
      val d = new Array[Long](1 + m)
      d(0) = 1L
      val n = sparse(1).toInt
      var i = 0
      while (i < n) { denseAdd(d, sparse(2 + i)); i += 1 }
      d
    }

    override def add(buf: Array[Long], h: Long): Array[Long] = {
      if (buf(0) == 1L) { denseAdd(buf, h); buf }
      else {
        val n = buf(1).toInt
        val idx = Arrays.binarySearch(buf, 2, 2 + n, h)
        if (idx >= 0) buf
        else if (n >= sparseMax) { val d = toDense(buf); denseAdd(d, h); d }
        else {
          val at = -idx - 1
          val b =
            if (2 + n < buf.length) buf
            else Arrays.copyOf(buf, math.max(8, buf.length * 2))
          System.arraycopy(b, at, b, at + 1, 2 + n - at)
          b(at) = h
          b(1) = n + 1
          b
        }
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      (a(0), b(0)) match {
        case (1L, 1L) =>
          var j = 1
          while (j <= m) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
          a
        case (1L, 0L) =>
          var i = 0; val n = b(1).toInt
          while (i < n) { denseAdd(a, b(2 + i)); i += 1 }
          a
        case (0L, 1L) => merge(b, a)
        case _ =>
          var acc = a
          var i = 0; val n = b(1).toInt
          while (i < n) { acc = add(acc, b(2 + i)); i += 1 }
          acc
      }
    }

    /** The sparse hash list trimmed to its live prefix, so equal sets
      * yield byte-equal states whatever growth path the buffer took. */
    override def stored(buf: Array[Long]): Array[Long] =
      if (buf(0) == 0L) Arrays.copyOf(buf, 2 + buf(1).toInt) else buf

    override def check(st: Array[Long]): Unit = {
      val expected =
        if (st.length >= 1 && st(0) == 1L) 1L + m
        else if (st.length >= 2) 2L + st(1)
        else 2L
      require(st.length == expected,
        s"stored HLL state (p=$p): expected length $expected, found ${st.length}")
    }

    override def inputEncoder: Encoder[Long] = Encoders.scalaLong
    override def stateEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Distinct estimate of a buffer: the set size while sparse; else the
    * bias-corrected harmonic mean over the m = length − 1 registers,
    * with linear counting below 2.5·m. */
  private def estimate(buf: Array[Long]): Long = {
    if (buf(0) == 0L) buf(1)
    else {
      val m = buf.length - 1
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      var sum = 0.0
      var zeros = 0
      var j = 1
      while (j <= m) {
        sum += math.pow(2.0, -buf(j).toDouble)
        if (buf(j) == 0L) zeros += 1
        j += 1
      }
      val e = alpha * m.toDouble * m.toDouble / sum
      val corrected =
        if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
        else e
      math.round(corrected)
    }
  }

  /** Aggregate column: BIGINT distinct estimate of the group's 64-bit
    * hashes (exact while ≤ sparseMax distinct). Feed `xxhash64(key)`. */
  def sketch(hash: Column, p: Int = 12, sparseMax: Int = 8192): Column =
    Summary.build(new Sketch(p, sparseMax), estimate, Encoders.scalaLong)(hash)

  // ---- stored states (ARRAY<BIGINT>, see [[Summary]]) ---------------
  // Union is a state merge; intersection is inclusion–exclusion over
  // union estimates (exact in the sparse regime, the q125 gate).

  /** Aggregate 64-bit hashes → storable sketch state (ARRAY<BIGINT>). */
  def sketchState(hash: Column, p: Int = 12, sparseMax: Int = 8192): Column =
    Summary.buildState(new Sketch(p, sparseMax))(hash)

  /** Aggregate stored states → BIGINT union-distinct estimate. */
  def mergeEstimate(state: Column, p: Int = 12, sparseMax: Int = 8192): Column =
    Summary.merge(new Sketch(p, sparseMax), estimate, Encoders.scalaLong)(state)

  /** Aggregate stored states → merged state (for re-storage). */
  def mergeState(state: Column, p: Int = 12, sparseMax: Int = 8192): Column =
    Summary.mergeState(new Sketch(p, sparseMax))(state)
}
