package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, LongType, StringType}

/** Text-analysis operators for large-scale corpus pipelines: token
  * counting, quality scoring, language id, fingerprinting. All pure
  * column expressions (whole-stage codegen; no UDFs), so they push
  * down/prune like any built-in and survive a 1000-executor scale-up.
  */
object TextFunctions {

  /** Word tokens: runs of alphanumerics, lowercased. The regex is
    * deliberately RE2/Java-portable so the DuckDB oracle can reproduce
    * it verbatim. */
  val TokenPattern = "[a-z0-9]+"

  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** Token count WITHOUT materializing the token array: a native byte
    * scan counting `[a-z0-9]` runs of the lowered text — the same
    * number `size(tokens(text))` produces (equivalence property-
    * tested), minus the regex engine and the match-array allocation.
    * At corpus scale token counting is the hottest text op; keep the
    * array-producing [[tokens]] for paths that need the tokens
    * themselves. */
  def tokenCount(text: Column): Column = tokenRuns(lower(text))

  /** Count of maximal `[a-z0-9]` runs of an already-lowered string
    * ([[HashUtil.tokenRuns]]); SQL's `graft_token_runs`. */
  private[graft] def tokenRuns(s: Column): Column =
    Kernel.static(HashUtil, "tokenRuns", LongType, s -> StringType)

  /** The regex-composed form, kept for the equivalence test pinning
    * [[tokenCount]] to identical counts. */
  private[graft] def tokenCountComposed(text: Column): Column = size(tokens(text))

  /** Highest per-token occurrence count in a pre-tokenized array —
    * the Gopher-style repetition signal (top_tok_n / n_tok close to 1
    * means boilerplate). Native single-pass expression; pass it a
    * MATERIALIZED token-array attribute so tokenization runs once. */
  def topTokenCount(tokenArr: Column): Column =
    Kernel.static(HashUtil, "topTokenCount", LongType, tokenArr -> ArrayType(StringType))

  /** The composed-HOF equivalent, kept only for the equivalence test
    * pinning [[topTokenCount]] (O(distinct × n) per row — not a
    * production path). */
  private[graft] def topTokenCountComposed(tokenArr: Column): Column =
    coalesce(array_max(transform(array_distinct(tokenArr),
      d => size(filter(tokenArr, t => t === d)).cast(LongType))), lit(0L))

  /** BPE-ish subword proxy: alpha runs, single digits, or any other
    * non-space symbol — a cheap deterministic stand-in for a real BPE
    * vocab (which would be a broadcast lookup at scale). */
  val BpePattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))

  /** Whitespace-split words (no normalization) — the shingling unit. */
  def words(text: Column): Column = split(text, " ")

  /** n-gram word shingles as strings, distinct. 1-based element_at.
    * Guarded: a doc with < n words yields an empty array (Spark's
    * `sequence(1, 0)` would otherwise count DOWN, not return empty).
    *
    * PERFORMANCE: `w` MUST be a materialized attribute (project
    * `words(text)` into its own column first). Higher-order-function
    * lambdas re-evaluate captured expression TREES per element — if
    * `w` were `split(text)` inline, the split would run 3× per shingle
    * position, turning shingling O(words²). [[shingles]] takes care of
    * the hoist; use [[shinglesFromWords]] when you already have the
    * array column. */
  def shinglesFromWords(w: Column, n: Int): Column =
    when(size(w) < n, array().cast("array<string>")).otherwise(
      array_distinct(transform(
        sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))))

  /** Convenience over [[shinglesFromWords]] — only safe when the plan
    * materializes the split once (single reference). Prefer projecting
    * `words(text)` first in hot paths. */
  def shingles(text: Column, n: Int): Column = shinglesFromWords(words(text), n)

  /** Ratio of punctuation chars to total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double") / length(text))

  /** Distinct-token / token ratio — low values indicate repetitive
    * (low-quality) documents. */
  def uniqueRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(size(array_distinct(t)).cast("double") / size(t))
  }

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, x => x.isin(stopwords.map(s => s: Any): _*))).cast("double") / size(t))
  }

  /** Composite quality score in [0,1]: rewards unique vocabulary and a
    * sane stopword rate, penalizes punctuation soup. Weights are fixed
    * so the score is deterministic and oracle-reproducible. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    round(uniqueRatio(text) * 0.5 + stopwordRatio(text, stopwords) * 0.3 +
      (lit(1.0) - punctRatio(text)) * 0.2, 4)

  /** The canonical marker-word language-id table (deterministic,
    * oracle-mirrored) — the one definition shared by the query
    * registry (LlmQueries.LangMarkers aliases it) and the streaming
    * profile's language-mix tracking. */
  val DefaultLangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value"),
    "de" -> Seq("table", "key"),
    "fr" -> Seq("query", "group"),
    "es" -> Seq("fast", "slow"),
    "zh" -> Seq("stream", "row"))

  /** Stopword-overlap language id: score = |distinct tokens ∩ marker
    * words| per language; argmax with first-wins tie-break on the
    * declaration order. Pure expressions — scales linearly, no UDF. */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    langIdFromTokens(array_distinct(tokens(text)), markers)

  /** langId over a pre-computed distinct-token array — hoist the
    * tokenization into a projection so the regex runs once per row,
    * not once per language. */
  def langIdFromTokens(distinctTokens: Column, markers: Seq[(String, Seq[String])]): Column = {
    // Spark's greatest() demands >= 2 arguments — a 1-language marker
    // table (perfectly legal: "is this English or not") or an empty
    // one would die at ANALYSIS instead of classifying; take the
    // degenerate arms explicitly
    if (markers.isEmpty) lit("und")
    else {
      val scores = markers.map { case (lang, ws) =>
        lang -> size(array_intersect(distinctTokens, array(ws.map(lit): _*)))
      }
      val best =
        if (scores.size == 1) scores.head._2
        else greatest(scores.map(_._2): _*)
      scores.foldRight(lit("und")) { case ((lang, s), els) =>
        when(s === best && s > 0, lit(lang)).otherwise(els)
      }
    }
  }

  /** Normalized-content fingerprint: md5 of the canonical token join.
    * Two documents differing only in case/whitespace/punctuation get
    * the same fingerprint (normalization-level dedup). Portable. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)).cast("binary"))

  /** Polynomial rolling hash over tokens (base 1000003, mod the 31-bit
    * prime 1e9+7, so the fold never overflows a long under ANSI mode) —
    * the order-sensitive fingerprint variant: permuted documents hash
    * differently, unlike [[fingerprint]]. Computed with `aggregate`
    * (sequential fold) so it stays a codegen'd column expression. */
  def rollingHash(text: Column): Column = {
    val M = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, tok) => pmod(acc * lit(1000003L) + pmod(xxhash64(tok), M), M).cast(LongType))
  }

  /** Oracle-portable [[rollingHash]]: identical polynomial fold, but
    * per-token hashes come from the md5-prefix family
    * ([[Hashes.md5Long]]) instead of xxhash64, so an external engine
    * reproduces the value bit-for-bit (DuckDB: `list_reduce` over
    * `('0x'||substr(md5(tok),1,15))::BIGINT % p`). Same fast/portable
    * split as the MinHash family (q31 vs q20). */
  def rollingHashPortable(text: Column): Column = {
    val M = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, tok) => pmod(acc * lit(1000003L) + pmod(Hashes.md5Long(tok), M), M).cast(LongType))
  }

  // ---- PII scrubbing ------------------------------------------------
  // Pre-training corpora are scrubbed of emails / phone-ish numbers /
  // IP addresses before tokenization. Pure regexp_replace chain: rides
  // the scan inside whole-stage codegen, no UDF, no shuffle — the same
  // scale shape as the quality filters. Patterns are deliberately
  // simple RE2/Java-portable forms (high recall on obvious PII, not a
  // compliance-grade detector — production pipelines layer NER on top).

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  /** 7+ digit runs, optionally dash/space/dot separated (phone-ish). */
  val PhonePattern = "\\+?[0-9][0-9()\\-. ]{5,}[0-9]"

  /** Replace emails, IPv4s, and phone-ish digit runs with typed
    * placeholder tokens (order matters: IPv4 before phone, or the
    * digit-run pattern eats dotted quads). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
        lit(Ipv4Pattern), lit("<IP>")),
      lit(PhonePattern), lit("<PHONE>"))

  /** Deflate-compressibility (compressed/raw bytes, BEST_SPEED): the
    * CCNet/Gopher-style repetitiveness signal — boilerplate and spam
    * compress far below natural prose. Native kernel
    * ([[HashUtil.deflateRatio]]); zlib is not expressible in built-ins. */
  def compressionRatio(text: Column): Column =
    Kernel.static(HashUtil, "deflateRatio", DoubleType, text.cast("binary") -> BinaryType)

  /** Unicode NFC canonical composition ([[HashUtil.nfcNormalize]]) — run
    * before any byte-level hash/dedup: composed and decomposed forms
    * of the same text must collide. Spark has no built-in normalizer;
    * the already-NFC case costs one scan and no allocation. */
  def nfc(text: Column): Column =
    Kernel.static(HashUtil, "nfcNormalize", StringType, text -> StringType)

  /** Full text canonicalization for dedup keys: NFC, control chars to
    * spaces, space runs collapsed, ends trimmed. The collapse pattern
    * is a literal `" +"` — NOT `\s+`, whose character class differs
    * between regex engines (Java includes U+000B, RE2 does not); after
    * the control-strip pass, space is the only whitespace left, so the
    * simpler pattern is also the portable one. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text), lit("[\\x00-\\x1f\\x7f]"), lit(" ")),
      lit(" +"), lit(" ")))

  // ---- HTML → text extraction --------------------------------------
  // Web-crawl corpora arrive as HTML; extraction to visible text is the
  // first stage of every curation pipeline (reference: the quality/
  // normalization stages assume plain text). Pure regexp_replace +
  // replace chain — rides the scan inside whole-stage codegen, and every
  // pattern is deliberately RE2/Java-portable so the DuckDB oracle
  // reproduces it verbatim. Not a spec-grade HTML5 parser (no entity
  // table beyond the core five, no CDATA) — the same fidelity class as
  // trafilatura-lite passes used in published web-corpus pipelines.

  /** `(?s)` so comments spanning lines die; lazy so adjacent comments
    * don't merge. */
  val HtmlCommentPattern = "(?s)<!--.*?-->"
  /** script/style bodies are NOT visible text — strip tag + body. Two
    * patterns (not an alternation with a backreference) so `<script>`
    * closed by `</style>` never pairs. */
  val HtmlScriptPattern = "(?is)<script[^>]*>.*?</script>"
  val HtmlStylePattern = "(?is)<style[^>]*>.*?</style>"
  val HtmlTagPattern = "<[^>]*>"
  /** Anchor inner text, group 1 — the link-density signal's numerator. */
  val HtmlAnchorPattern = "(?is)<a[^>]*>(.*?)</a>"

  /** Visible text of an HTML fragment: comments, script/style blocks,
    * then all remaining tags → spaces; the five core character entities
    * decoded (AFTER tag removal, so a literal `&lt;b&gt;` never becomes
    * a strippable tag; `&amp;` last, so `&amp;lt;` decodes to the
    * literal `&lt;`); whitespace runs collapsed, ends trimmed. */
  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, lit(HtmlCommentPattern), lit(" ")),
        lit(HtmlScriptPattern), lit(" ")),
      lit(HtmlStylePattern), lit(" "))
    val noTags = regexp_replace(noBlocks, lit(HtmlTagPattern), lit(" "))
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, lit("[ \\t\\r\\n]+"), lit(" ")))
  }

  /** Total characters of raw anchor inner HTML (nested tags included —
    * the cheap numerator; pair with [[stripHtml]] length for the
    * denominator). High link-char ratio marks nav/boilerplate pages. */
  def anchorChars(html: Column): Column =
    coalesce(aggregate(
      regexp_extract_all(html, lit(HtmlAnchorPattern), lit(1)),
      lit(0L), (acc, a) => acc + length(a).cast(LongType)), lit(0L))

  /** Anchor count — boilerplate signal twin of [[anchorChars]]. */
  def anchorCount(html: Column): Column =
    size(regexp_extract_all(html, lit(HtmlAnchorPattern), lit(1))).cast(LongType)

  /** Link density in [0,1]: anchor chars over visible chars (0 when no
    * visible text). Double-valued — gate on the integer components. */
  def linkDensity(html: Column): Column = {
    val visible = length(stripHtml(html))
    when(visible === 0, lit(0.0))
      .otherwise(least(lit(1.0), anchorChars(html).cast("double") / visible))
  }

  /** Struct of per-kind PII hit counts — the audit twin of
    * [[redactPii]] (count before you scrub; log what you dropped).
    * Phones are counted on text with emails AND IPv4s already replaced,
    * mirroring redactPii's replacement order — otherwise a digit-heavy
    * email local part (5551234567@host.com) double-counts as a phone. */
  def piiCounts(text: Column): Column =
    struct(
      regexp_count(text, lit(EmailPattern)).as("n_email"),
      regexp_count(text, lit(Ipv4Pattern)).as("n_ip"),
      regexp_count(
        regexp_replace(
          regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
          lit(Ipv4Pattern), lit("<IP>")),
        lit(PhonePattern)).as("n_phone"))
}
