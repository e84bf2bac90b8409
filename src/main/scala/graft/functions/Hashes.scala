package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** The hash and text kernels: plain JVM methods that the column
  * functions call through [[org.apache.spark.sql.graft.Kernel]]. */
object HashUtil {
  def adler32(bytes: Array[Byte]): Long = {
    val a = new java.util.zip.Adler32()
    a.update(bytes, 0, bytes.length)
    a.getValue
  }

  // MessageDigest is stateful and not thread-safe; one per task thread,
  // reset per call — no per-row allocation in the hot loop.
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** NFC-normalize, returning the input object untouched when already
    * normalized (no allocation on the ASCII/composed fast path). */
  def nfcNormalize(s: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** First 60 bits of the md5 digest as a non-negative long —
    * numerically identical to the composed
    * `conv(substring(md5(c), 1, 15), 16, 10)` form (15 hex chars = the
    * top 7.5 bytes big-endian), without the hex-string materialization,
    * substring, and base-16 string parse per value. */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  // Deflater is stateful native code; one per task thread, reset per
  // call. Fixed level + strategy => deterministic bytes for an input.
  private val deflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
  }

  /** compressed-size / raw-size under deflate(BEST_SPEED) — the
    * compressibility quality signal (boilerplate and repetitive spam
    * compress far below ~0.4; natural prose sits ~0.5-0.8; random
    * bytes exceed 1 with header overhead). Empty input => 1.0. */
  def deflateRatio(bytes: Array[Byte]): Double = {
    if (bytes.length == 0) return 1.0
    val d = deflater.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](1024)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }

  /** Count maximal runs of ASCII `[a-z0-9]` bytes. UTF-8-safe: every
    * continuation/multi-byte unit has bit 7 set and exits the class. */
  def tokenRuns(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    var runs = 0L
    var inRun = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val in = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (in && !inRun) runs += 1
      inRun = in
      i += 1
    }
    runs
  }

  /** Highest per-token occurrence count in a token array — the Gopher
    * -style repetition signal (a doc whose most frequent token covers a
    * large share of all tokens is boilerplate/spam). Single pass with
    * an open HashMap; O(n) time, O(distinct) scratch — replaces the
    * composed HOF form `array_max(transform(array_distinct(tk), d ->
    * size(filter(tk, t -> t = d))))`, which is O(distinct × n) per row
    * with per-element expression-tree re-entry. */
  def topTokenCount(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val counts =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    var max = 0L
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val c: Long = counts.getOrDefault(s, 0L) + 1L
        counts.put(s, c)
        if (c > max) max = c
      }
      i += 1
    }
    max
  }

  /** Single-pass 60-bit SimHash over an array of PRE-HASHED longs (the
    * portable md5-prefix family, cross-engine reproducible): ±1 votes
    * per bit, sign-packed. Bit-identical to the composed
    * `aggregate(hs, zeros60, (acc,h) => zip_with(acc, ±1(bit_b(h)),
    * _+_))` form it replaces — including its null-element rule (a null
    * hash votes −1 on every bit: `null & p === p` is null, and the
    * composed `when(...).otherwise(-1)` lands in the otherwise). That
    * form allocated three 60-wide arrays and ~180 interpreted lambda
    * re-entries PER TOKEN (higher-order functions are CodegenFallback)
    * and dominated q48's scan stage; this is one tight loop under
    * whole-stage codegen. */
  def simhash60(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var b = 0
        while (b < 60) { votes(b) -= 1; b += 1 }
      } else {
        val h = arr.getLong(i)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Single-pass 64-bit SimHash over a token array: per token, hash
    * once (Spark's own xxhash64, seed 42 — bit-identical to the
    * `xxhash64` SQL function) and accumulate ±1 votes into 64 counters;
    * sign-pack at the end. One traversal of the array, O(64) ints of
    * scratch — replaces a 64-fold `aggregate` expression tree that
    * re-walked the array per bit. */
  def simhash64(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      // null elements hash to the seed (42): Spark's xxhash64 leaves
      // the running hash untouched on null input, so the composed form
      // votes with 42's bit pattern — match it for bit-equivalence
      val h =
        if (s != null)
          org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(s, org.apache.spark.sql.types.StringType, 42L)
        else 42L
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** The vector kernels, called through
  * [[org.apache.spark.sql.graft.Kernel]] like [[HashUtil]]'s. */
object VecUtil {
  /** Count of positions where two `array<long>` values agree — the
    * MinHash signature-agreement kernel. Bit-identical to the composed
    * `aggregate(zip_with(a, b, (x,y) => when(x===y,1).otherwise(0)),
    * 0, _+_)` form it replaces: zip_with pads the shorter array with
    * nulls and `null === anything` lands in the otherwise(0), so only
    * positions BOTH non-null and equal count. */
  def agreeCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1L
      i += 1
    }
    c
  }

  /** Sequential left-fold dot product — the SAME accumulation order as
    * the composed `aggregate(zip_with(...))` form, so results are
    * bit-identical to it (and to the DuckDB oracle's sequential fold).
    * Null elements are not expected (embedding arrays are dense). */
  def dotD(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  private def dotRow(v: org.apache.spark.sql.catalyst.util.ArrayData,
      c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += v.getDouble(i) * c(i); i += 1 }
    s
  }

  /** SRP bucket id: sign bit per hyperplane, packed little-endian.
    * The planes are a plan-time model (like the IVF centroids) — one
    * pass over the vector per plane, no per-row hashing. */
  def srpBucket(v: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Array[Double]]): Long = {
    var out = 0L
    var b = 0
    while (b < planes.length) {
      if (dotRow(v, planes(b)) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Argmax-similarity centroid index; ties break to the HIGHER index —
    * the exact semantics of the composed
    * `array_max(array(struct(sim, idx)...)).idx` form it replaces, so
    * cluster assignments are bit-stable across the rewrite. */
  def nearestCentroid(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bestIdx = 0
    var i = 0
    while (i < cents.length) {
      val s = dotRow(v, cents(i))
      if (s >= best) { best = s; bestIdx = i } // >= : later (higher) idx wins ties
      i += 1
    }
    bestIdx
  }

  /** Indices of the `n` most similar centroids, ordered by (sim DESC,
    * idx DESC) — the exact order of the composed
    * `slice(reverse(array_sort(structs)), 1, n)` form it replaces. */
  def topCentroids(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]], n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val k = cents.length
    val sims = new Array[Double](k)
    var i = 0
    while (i < k) { sims(i) = dotRow(v, cents(i)); i += 1 }
    val idx = Array.range(0, k).sortWith { (a, b) =>
      if (sims(a) != sims(b)) sims(a) > sims(b) else a > b
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      idx.take(math.min(n, k)).map(x => x: Any))
  }

  /** Product-quantization encode: for each of the `m` codebooks, the
    * index of the squared-L2-nearest sub-centroid of the matching
    * subvector slice. Ties break to the LOWER index (strict `<`) —
    * the first-seen winner, matching a left-to-right argmin scan.
    * `books(s)(c)` is sub-centroid `c` of subspace `s`; subvector `s`
    * covers positions `[s*dsub, (s+1)*dsub)`. */
  def pqEncode(v: org.apache.spark.sql.catalyst.util.ArrayData,
      books: Array[Array[Array[Double]]]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = books.length
    val codes = new Array[Any](m)
    var s = 0
    var off = 0
    while (s < m) {
      val book = books(s)
      val dsub = book(0).length
      var best = Double.MaxValue
      var bestIdx = 0
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = v.getDouble(off + j) - cent(j)
          d += diff * diff
          j += 1
        }
        if (d < best) { best = d; bestIdx = c }
        c += 1
      }
      codes(s) = bestIdx
      off += dsub
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Asymmetric-distance computation: approximate squared L2 between a
    * raw query vector and a PQ-encoded corpus vector — the sum over
    * subspaces of ||q_s - books(s)(codes(s))||². Reads `m` codes
    * instead of `dim` components on the corpus side; on unit vectors,
    * ascending squared L2 ranks identically to descending cosine
    * (||q-x||² = 2 - 2·q·x). */
  def pqAdcDist(q: org.apache.spark.sql.catalyst.util.ArrayData,
      codes: org.apache.spark.sql.catalyst.util.ArrayData,
      books: Array[Array[Array[Double]]]): Double = {
    var total = 0.0
    var s = 0
    var off = 0
    while (s < books.length) {
      val cent = books(s)(codes.getInt(s))
      var j = 0
      while (j < cent.length) {
        val diff = q.getDouble(off + j) - cent(j)
        total += diff * diff
        j += 1
      }
      off += cent.length
      s += 1
    }
    total
  }
}

/** Hash column functions. Two families:
  *  - fast path: `xxhash64` (Spark-native, codegen'd) — use in
  *    production pipelines;
  *  - portable path: md5-prefix-as-long — bit-identical across engines
  *    (Spark `conv(substr(md5 ..))` == DuckDB `('0x'||substr(md5 ..))::BIGINT`),
  *    used where the correctness oracle must reproduce the hash.
  */
object Hashes {

  /** Adler-32 checksum — the reference's `NewMessageHasherAdler32`
    * dedup hasher (message/router/middleware/deduplicator.go:219-234). */
  def adler32(c: Column): Column =
    Kernel.static(HashUtil, "adler32", LongType, c.cast(BinaryType) -> BinaryType)

  /** Single-pass SimHash of an array<string> column
    * ([[HashUtil.simhash64]]). */
  def simhash64(tokens: Column): Column =
    Kernel.static(HashUtil, "simhash64", LongType, tokens -> ArrayType(StringType))

  /** First 15 hex chars of md5 as a positive 60-bit long. Engine-portable
    * (DuckDB reproduces it from the hex md5); computed natively in one
    * digest pass ([[HashUtil.md5Prefix60]]). */
  def md5Long(c: Column): Column =
    Kernel.static(HashUtil, "md5Prefix60", LongType, c.cast(BinaryType) -> BinaryType)

  /** The composed column form — kept for the equivalence test that pins
    * [[md5Long]] to the same bit pattern; do not use in query paths. */
  private[graft] def md5LongComposed(c: Column): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)

  /** Salted portable hash — the seed-parameterized hash family used by
    * MinHash permutations. */
  def md5Long(c: Column, salt: Int): Column =
    md5Long(concat(lit(s"$salt:"), c.cast("string")))

  /** Fast salted 64-bit hash (xxhash64, codegen'd) — the production
    * MinHash hash family; not oracle-portable. */
  def fastLong(c: Column, salt: Int): Column = xxhash64(lit(salt), c)

  /** Bloom membership probe of a LONG column, the filter riding the
    * plan as one reference object — the corpus-scale decontamination
    * filter when the "drop if present" set outgrows a broadcast hash
    * relation (a tunable false-positive rate for a fixed size). */
  def bloomContains(c: Column, bf: BloomFilter): Column =
    Kernel.method(bf, "mightContainLong", BooleanType, c -> LongType)

  /** Content hash used by exact dedup: hex md5 (engine-portable). */
  def contentHash(c: Column): Column = md5(c.cast(BinaryType))
}
