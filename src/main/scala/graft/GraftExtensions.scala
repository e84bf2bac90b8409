package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions._

/** Session extension registering the engine's native kernels as SQL
  * functions, so `spark.sql` users (and external tools speaking SQL to
  * a graft-configured cluster) reach the same kernels the Column API
  * uses — each SQL function builds its call through the Column-API
  * function, so a kernel is declared once:
  *
  * {{{
  *   SELECT graft_token_runs(lower(text))     -- STRING: [a-z0-9] run count, no regex
  *   SELECT graft_top_token_count(tokens)     -- ARRAY<STRING>: max per-token frequency
  *   SELECT graft_simhash64(tokens)           -- ARRAY<STRING>: single-pass SimHash vote
  *   SELECT graft_adler32(payload)            -- BINARY/STRING: streaming dedup checksum
  *   SELECT graft_md5_prefix_long(s)          -- BINARY/STRING: portable 60-bit hash
  *   SELECT graft_deflate_ratio(text)         -- BINARY/STRING: compressibility
  *   SELECT graft_nfc(text)                   -- STRING: Unicode NFC composition
  *   SELECT graft_zvalue16(x, y)              -- INT, INT: Morton interleave
  *   SELECT graft_dot(a, b)                   -- ARRAY<DOUBLE>, ARRAY<DOUBLE>: dot product
  *   SELECT graft_srp_bucket(v, 16, 8, 42)    -- ARRAY<DOUBLE>, INT literals: SRP LSH bucket
  * }}}
  *
  * An argument of another type is cast to the one listed (an
  * `ARRAY<FLOAT>` vector is widened) or the call is rejected at
  * analysis.
  *
  * Wired automatically by [[GraftSession.builder]]; external deploys
  * can instead set `spark.sql.extensions=graft.GraftExtensions`
  * (the standard injection point — works with spark-submit /
  * Thrift server / connect, no code changes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String, usage: String, arity: Int)(f: Seq[Column] => Column) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (args: Seq[Expression]) => {
        require(args.length == arity,
          s"$name expects $arity argument(s), got ${args.length}")
        ColumnBridge.converted(f(args.map(ColumnBridge.column)))
      })

  /** An INT literal argument: an integer literal in the Int range (a
    * wider value is rejected, never narrowed). */
  private def intLit(c: Column, name: String): Int = {
    val e = ColumnBridge.expression(c)
    require(e.foldable, s"graft_srp_bucket: $name must be a literal")
    e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"graft_srp_bucket: $name must be an integer literal in the INT range, got $other")
    }
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("graft_token_runs",
      "graft_token_runs(str) - count of [a-z0-9] runs of a STRING (token count without a regex engine)",
      1)(a => TextFunctions.tokenRuns(a(0))),
    fn("graft_top_token_count",
      "graft_top_token_count(arr) - highest per-token occurrence count in an ARRAY<STRING>",
      1)(a => TextFunctions.topTokenCount(a(0))),
    fn("graft_simhash64",
      "graft_simhash64(arr) - 64-bit SimHash of an ARRAY<STRING> (xxhash64 per token, single-pass bit vote)",
      1)(a => Hashes.simhash64(a(0))),
    // the digest kernels read BINARY; the Column functions cast, so
    // STRING arguments work from SQL too
    fn("graft_adler32",
      "graft_adler32(bin) - Adler-32 checksum of a BINARY (or STRING) as LONG",
      1)(a => Hashes.adler32(a(0))),
    fn("graft_md5_prefix_long",
      "graft_md5_prefix_long(str) - first 60 bits of md5 as a non-negative LONG (portable hash family)",
      1)(a => Hashes.md5Long(a(0))),
    fn("graft_deflate_ratio",
      "graft_deflate_ratio(str) - deflate(BEST_SPEED) compressed/raw size; repetitive text compresses low",
      1)(a => TextFunctions.compressionRatio(a(0))),
    fn("graft_nfc",
      "graft_nfc(str) - Unicode NFC canonical composition (normalize before hashing/dedup)",
      1)(a => TextFunctions.nfc(a(0))),
    fn("graft_zvalue16",
      "graft_zvalue16(x, y) - Morton/z-order interleave of two 16-bit INT dimension keys as LONG",
      2)(a => ZOrder.zvalue16(a(0), a(1))),
    fn("graft_dot",
      "graft_dot(a, b) - dot product of two ARRAY<DOUBLE> columns (sequential fold)",
      2)(a => VectorFunctions.dot(a(0), a(1))),
    // model-free LSH: the plane family derives from (seed, bit, dim)
    // alone, so SQL callers get the SAME buckets as the Column API —
    // cross-engine/cross-job bucket compatibility with no stored model
    fn("graft_srp_bucket",
      "graft_srp_bucket(vec, dim, nbits, seed) - sign-random-projection LSH " +
        "bucket of an ARRAY<DOUBLE>; dim/nbits/seed must be INT literals, " +
        "dim >= 1, 1 <= nbits <= 64",
      4)(a => VectorFunctions.srpBucket(a(0),
        intLit(a(1), "dim"), intLit(a(2), "nbits"), intLit(a(3), "seed"))))
}
