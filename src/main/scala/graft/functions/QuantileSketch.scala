package graft.functions

import java.util.Arrays

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Mergeable quantile summary: fixed-memory rank estimates over a
  * column too large to sort — the percentile complement of
  * [[HeavyHitters]] (frequencies) and [[CountMin]] (point counts).
  *
  * Structure (KLL/MRL-family compactor ladder, Karnin–Lang–Liberty '16
  * / Manku–Rajagopalan–Lindsay '98, deterministic variant): level l
  * holds ≤ k values of weight 2^l. Level 0 fills with raw values; a
  * full level is sorted and every sorted PAIR collapses to its upper
  * element at double weight, promoted one level up (cascading). Memory
  * is O(k log(n/k)) regardless of input size; total weight is
  * preserved EXACTLY by construction (QuantileSketchSpec pins it), so
  * the summary is a true weighted CDF, never a biased sample.
  *
  * Where the randomized KLL flips a coin per pair, this keeps the
  * upper element deterministically: estimates gain a one-sided rank
  * bias bounded by the same O(n/k)-per-level geometry the randomized
  * analysis gives in expectation (the spec measures it on uniform and
  * heavy-skew data under 1/7/32-partition runs and pins rank error
  * ≤ 4n/k), in exchange for reproducibility inside one partitioning.
  *
  * EXACT regime — the oracle gate: with k ≥ group size, no compaction
  * ever fires under ANY partitioning (merges concatenate level 0 and
  * only compact past k), the finish sorts weight-1 values, and
  * `quantile(q)` = the exact lower-rank order statistic ⌈q·n⌉ — which
  * is what q120 hash-matches against DuckDB's explicit rank selection.
  *
  * The ladder is a [[Summary]]: its two aggregators give it the
  * build/merge lifecycle, the null-state rule and the shape check (the
  * level-0 count fits its stored length); O(1) amortized per row.
  */
object QuantileSketch {

  /** Smallest value whose cumulative weight reaches q·W, from a
    * [[sketch]]-shaped interleaved [v0,w0,v1,w1,…] CDF (sorted by v). */
  def quantileFromCdf(cdf: Array[Double], q: Double): Double = {
    require(cdf.nonEmpty, "quantile of an empty summary")
    var total = 0.0
    var i = 1
    while (i < cdf.length) { total += cdf(i); i += 2 }
    val target = q * total
    var cum = 0.0
    i = 0
    while (i < cdf.length) {
      cum += cdf(i + 1)
      if (cum >= target) return cdf(i)
      i += 2
    }
    cdf(cdf.length - 2)
  }

  /** Buffer layout: buf(0) = Array(n0) metadata; buf(1) = level-0
    * storage at fixed capacity k (first n0 slots live, unsorted);
    * buf(l+1) for l ≥ 1 = level-l values, sorted, weight 2^l. */
  final class Ladder(k: Int) extends Summary[Option[Double], Array[Array[Double]]] {
    require(k >= 2 && k % 2 == 0, s"k must be even and >= 2: $k")

    override def zero: Array[Array[Double]] =
      Array(Array(0.0), new Array[Double](k))

    // OPTION input on purpose: the primitive encoder turns a NULL row
    // into 0.0 and silently injects zeros into the summary; the Option
    // form receives None and skips it, like every built-in aggregate
    // (percentile_approx, avg)
    override def add(
        buf: Array[Array[Double]], opt: Option[Double]): Array[Array[Double]] =
      if (opt.isEmpty) buf else put(buf, opt.get)

    private def put(buf: Array[Array[Double]], v: Double): Array[Array[Double]] = {
      val n0 = buf(0)(0).toInt
      if (n0 < k) { buf(1)(n0) = v; buf(0)(0) = n0 + 1; buf }
      else {
        val b = compactLevel0(buf)
        b(1)(b(0)(0).toInt) = v
        b(0)(0) += 1
        b
      }
    }

    override def merge(
        a: Array[Array[Double]],
        b: Array[Array[Double]]): Array[Array[Double]] = {
      var acc = a
      // level 0 of b feeds through put (keeps the capacity invariant)
      val bn0 = b(0)(0).toInt
      var i = 0
      while (i < bn0) { acc = put(acc, b(1)(i)); i += 1 }
      // higher levels concatenate, then compact past k
      var l = 2
      while (l < b.length) {
        if (b(l).nonEmpty) {
          while (acc.length <= l) acc = acc :+ Array.emptyDoubleArray
          val joined = new Array[Double](acc(l).length + b(l).length)
          System.arraycopy(acc(l), 0, joined, 0, acc(l).length)
          System.arraycopy(b(l), 0, joined, acc(l).length, b(l).length)
          Arrays.sort(joined)
          acc(l) = joined
          acc = compactFrom(acc, l)
        }
        l += 1
      }
      acc
    }

    /** Level 0 trimmed to its live prefix: merge only reads a stored
      * state's first n0 level-0 slots (the accumulating buffer keeps
      * fixed-capacity storage). */
    override def stored(buf: Array[Array[Double]]): Array[Array[Double]] =
      buf.updated(1, Arrays.copyOf(buf(1), buf(0)(0).toInt))

    override def check(st: Array[Array[Double]]): Unit = {
      val len = if (st.length < 2) 0 else st(1).length
      val n0 = if (st.isEmpty || st(0).isEmpty) -1 else st(0)(0).toInt
      require(st.length >= 2 && n0 >= 0 && n0 <= len,
        s"stored KLL state: expected a level-0 count in [0, $len] (its " +
          s"stored length), found $n0")
    }

    override def inputEncoder: Encoder[Option[Double]] =
      ExpressionEncoder[Option[Double]]()
    override def stateEncoder: Encoder[Array[Array[Double]]] =
      ExpressionEncoder[Array[Array[Double]]]()

    /** Sort + pair-collapse level 0 into level 1 (cascading), leaving
      * level 0 empty. Called only when level 0 holds exactly k items. */
    private def compactLevel0(
        buf: Array[Array[Double]]): Array[Array[Double]] = {
      val sorted = Arrays.copyOf(buf(1), k)
      Arrays.sort(sorted)
      val promoted = new Array[Double](k / 2)
      var i = 0
      while (i < k / 2) { promoted(i) = sorted(2 * i + 1); i += 1 }
      var b =
        if (buf.length > 2) buf else buf :+ Array.emptyDoubleArray
      val joined = new Array[Double](b(2).length + promoted.length)
      System.arraycopy(b(2), 0, joined, 0, b(2).length)
      System.arraycopy(promoted, 0, joined, b(2).length, promoted.length)
      Arrays.sort(joined)
      b(2) = joined
      b(0)(0) = 0.0
      compactFrom(b, 2)
    }

    /** Cascade: while the (sorted) level at storage index l exceeds k,
      * collapse its pairs upward. An odd count carries its minimum. */
    @annotation.tailrec
    private def compactFrom(
        buf: Array[Array[Double]], l: Int): Array[Array[Double]] = {
      if (l >= buf.length || buf(l).length <= k) buf
      else {
        val s = buf(l)
        val odd = s.length % 2 == 1
        val from = if (odd) 1 else 0
        val pairs = (s.length - from) / 2
        val promoted = new Array[Double](pairs)
        var i = 0
        while (i < pairs) { promoted(i) = s(from + 2 * i + 1); i += 1 }
        buf(l) = if (odd) Array(s(0)) else Array.emptyDoubleArray
        var b =
          if (buf.length > l + 1) buf else buf :+ Array.emptyDoubleArray
        val joined = new Array[Double](b(l + 1).length + promoted.length)
        System.arraycopy(b(l + 1), 0, joined, 0, b(l + 1).length)
        System.arraycopy(promoted, 0, joined, b(l + 1).length, promoted.length)
        Arrays.sort(joined)
        b(l + 1) = joined
        compactFrom(b, l + 1)
      }
    }

  }

  /** Interleaved weighted CDF of a ladder, sorted by value. Empty input
    * → empty array. */
  private def cdf(buf: Array[Array[Double]]): Array[Double] = {
    val n0 = buf(0)(0).toInt
    var m = n0
    var l = 2
    while (l < buf.length) { m += buf(l).length; l += 1 }
    if (m == 0) return Array.emptyDoubleArray
    val pairs = new Array[(Double, Double)](m)
    var j = 0
    var i = 0
    while (i < n0) { pairs(j) = (buf(1)(i), 1.0); j += 1; i += 1 }
    l = 2
    while (l < buf.length) {
      val w = math.pow(2.0, (l - 1).toDouble)
      i = 0
      while (i < buf(l).length) {
        pairs(j) = (buf(l)(i), w); j += 1; i += 1
      }
      l += 1
    }
    val sorted = pairs.sortBy(_._1)
    val out = new Array[Double](2 * m)
    i = 0
    while (i < m) {
      out(2 * i) = sorted(i)._1
      out(2 * i + 1) = sorted(i)._2
      i += 1
    }
    out
  }

  /** The requested quantiles of a ladder (its CDF when `qs` is empty). */
  private def quantilesOf(qs: Array[Double])(buf: Array[Array[Double]]): Array[Double] = {
    val c = cdf(buf)
    if (qs.isEmpty || c.isEmpty) c else qs.map(q => quantileFromCdf(c, q))
  }

  private def cdfEnc: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()

  /** Aggregate column: interleaved [value, weight, …] CDF of the
    * group (sorted by value). */
  def sketch(value: Column, k: Int): Column =
    Summary.build(new Ladder(k), cdf, cdfEnc)(value)

  /** Aggregate column: ARRAY<DOUBLE> of the requested quantiles
    * (lower-rank order statistics of the summary's weighted CDF). */
  def quantiles(value: Column, k: Int, qs: Seq[Double]): Column =
    Summary.build(new Ladder(k), quantilesOf(qs.toArray), cdfEnc)(value)

  // ---- stored states (ARRAY<ARRAY<DOUBLE>>, see [[Summary]]) ---------
  // With k ≥ the merged group's size a merge only concatenates level 0,
  // so merged-state quantiles ARE the exact order statistics (q129).

  /** Aggregate values → storable ladder state. */
  def sketchState(value: Column, k: Int): Column =
    Summary.buildState(new Ladder(k))(value)

  /** Aggregate stored states → merged state (for re-storage). */
  def mergeState(state: Column, k: Int): Column =
    Summary.mergeState(new Ladder(k))(state)

  /** Aggregate stored states → ARRAY<DOUBLE> quantiles. */
  def mergeQuantiles(state: Column, k: Int, qs: Seq[Double]): Column =
    Summary.merge(new Ladder(k), quantilesOf(qs.toArray), cdfEnc)(state)

  /** Aggregate stored states → interleaved CDF. */
  def mergeCdf(state: Column, k: Int): Column =
    Summary.merge(new Ladder(k), cdf, cdfEnc)(state)
}
