package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, HeavyHitters, SamplingFunctions, TextFunctions, VectorFunctions}
import QuerySpec.t

/** Training-data-pipeline operators over `documents` / `embeddings`
  * (the BASELINE.json extension surface): dedup family, similarity
  * search, text analysis. Where the algorithm is hash-dependent, the
  * portable md5-prefix hash family keeps Spark and the DuckDB oracle
  * bit-identical (see [[graft.functions.Hashes]]).
  */
object LlmQueries {

  /** q147's band-index scratch dir, scoped per SparkSession by
    * applicationId so concurrent processes on one host (bench beside
    * verify, parallel CI executors) never clobber each other's index.
    * Registered once per path with a JVM shutdown hook that sweeps it
    * — the session-lifetime overwrite discipline keeps it at ONE
    * index per process while alive. */
  // a keySet, NOT ConcurrentHashMap[String, Boolean]: putIfAbsent on a
  // scala.Boolean-valued map auto-unboxes its java.lang.Boolean result,
  // so `== null` was always false and the sweep hook NEVER registered —
  // every bench/verify process left its index dir on (tmpfs) scratch
  private val q147Swept =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def q147ScratchDir(s: org.apache.spark.sql.SparkSession): String = {
    val dir = java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir"),
        s"graft-q147-idx-${s.sparkContext.applicationId}")
      .toString
    if (q147Swept.add(dir)) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => rm(new java.io.File(dir))))
    }
    dir
  }

  /** q147's BUILD half: write the frozen MinHash band index of the
    * accepted corpus (docs with doc_id % 3 != 0) to the session
    * scratch path. ONE scratch path PER SESSION, overwritten per
    * invocation — a fresh temp dir per call would leak a full band
    * index onto (tmpfs) scratch for every bench pass/ladder rung,
    * while one HOST-global path let two concurrent processes (bench
    * beside verify, parallel CI executors) overwrite each other's
    * index mid-query: the applicationId suffix keeps both properties,
    * and a shutdown hook sweeps the dir on JVM exit.
    *
    * Public (with [[q147LadderIncr]]) so Bench's split ladder times
    * build vs incremental separately on the exact serving code: the
    * 100 TB claim is that accepted TEXT is never re-read, and the
    * incremental half's measured exponent is that claim's number. */
  def q147LadderBuild(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val docs = t(s, dir, "documents")
    val old = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    DedupFunctions.minhashBandIndex(old, "doc_id", "text",
        shingleN = 3, k = 12, r = 2, portable = true)
      .write.mode("overwrite").parquet(q147ScratchDir(s))
  }

  /** q147's INCREMENTAL half: candidates for the new slice (doc_id %
    * 3 == 0, plus planted truncated clones of every 60th doc) against
    * the frozen index [[q147LadderBuild]] last wrote for this session
    * — the build must have run first (q147's fn and the split ladder
    * both sequence build before incremental at each scale). */
  def q147LadderIncr(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(60)) === 1)
        .withColumn("doc_id", col("doc_id") + lit(10000000L)))
    DedupFunctions.incrementalCandidates(fresh,
      s.read.parquet(q147ScratchDir(s)),
      "doc_id", "text", shingleN = 3, k = 12, r = 2, portable = true)
  }

  /** Marker-word language-id table (deterministic, oracle-mirrored);
    * canonical definition lives in [[TextFunctions.DefaultLangMarkers]]
    * so the streaming profile's language-mix tracking and the oracle
    * twins (which spell these words as SQL literals) cannot diverge
    * silently. */
  val LangMarkers: Seq[(String, Seq[String])] =
    graft.functions.TextFunctions.DefaultLangMarkers

  val specs: Seq[QuerySpec] = Seq(

    // ---- exact dedup: hash-groupBy, keep lowest id ----
    QuerySpec("q05_dedup_exact",
      (s, dir) => DedupFunctions
        .exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("content_hash")),
      Some("""SELECT md5(text) AS content_hash,
             |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
             |  CAST(count(*) AS BIGINT) AS n_dups
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    // ---- text stats per language ----
    QuerySpec("q17_text_stats",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          // sum, not round(avg(..)): Spark rounds HALF_UP, DuckDB
          // half-even — rounding a division result makes the gate flaky
          sum(TextFunctions.tokenCount(col("text"))).cast("long").as("sum_tokens"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang")),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(length(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS sum_tokens,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- quality scoring: unique-token ratio ----
    QuerySpec("q18_quality",
      // tokenize ONCE in a projection, then reuse the array — inlining
      // tokens() at each use would run the regex twice per row
      (s, dir) => t(s, dir, "documents")
        .filter(col("n_chars") > 200)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tok"),
          // basis points by true integer division (div), NOT
          // round(div, 4): the engines round division results
          // differently at midpoints
          expr("cast(size(array_distinct(tk)) as bigint) * 10000L div size(tk)")
            .as("uniq_bp"))
        .orderBy(col("doc_id")),
      Some("""WITH x AS (
             |  SELECT doc_id,
             |    length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok,
             |    length(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_uniq
             |  FROM documents WHERE n_chars > 200)
             |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             |  CAST(n_uniq AS BIGINT) * 10000 // n_tok AS uniq_bp
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ---- exact n-gram Jaccard near-dup join (prefix-filtered) ----
    // minPartitions measured as a NO-gain here (PLANS.md q19 breakdown: the
    // 1-partition scan+shingle+hash pass is 0.3 s; the multi-pass tail
    // dominates) — left unset; the knob stays for compute-heavier docs
    QuerySpec("q19_ngram_jaccard",
      (s, dir) => DedupFunctions
        .jaccardSimilarityJoin(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy(col("d1"), col("d2")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, len(w) - 2),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM w WHERE len(w) >= 3),
             |p AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2,
             |    len(list_intersect(a.s, b.s)) AS shared,
             |    len(a.s) AS n1, len(b.s) AS n2
             |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id)
             |SELECT d1, d2,
             |  round(CAST(shared AS DOUBLE) / (n1 + n2 - shared), 4) AS jaccard
             |FROM p
             |WHERE n1 + n2 - shared > 0
             |  AND CAST(shared AS DOUBLE) / (n1 + n2 - shared) >= 0.8
             |ORDER BY d1, d2""".stripMargin)),

    // ---- MinHash + LSH candidate generation (banded signatures) ----
    QuerySpec("q20_minhash_lsh",
      (s, dir) => DedupFunctions
        .minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, k = 12, r = 2, portable = true)
        .orderBy(col("d1"), col("d2")),
      // the oracle mirrors the maxBucket=1000 skew cap (`sized`/`kept`)
      // and the affine MinHash family over one 30-bit md5 base hash
      // per shingle ((1000003*i+12289)*h + (7919*i+104729) mod 2^31-1)
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, len(w) - 2),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM w WHERE len(w) >= 3),
             |hs AS (
             |  SELECT doc_id, list_transform(s, tk ->
             |    CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) & 1073741823) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id, list_transform(generate_series(0, 11), i ->
             |    list_min(list_transform(hs, h ->
             |      ((1000003*i + 12289) * h + (7919*i + 104729)) % 2147483647))) AS sig
             |  FROM hs),
             |bands AS (
             |  SELECT doc_id, bb AS band,
             |    sig[2*bb + 1]::VARCHAR || '_' || sig[2*bb + 2]::VARCHAR AS band_key
             |  FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |sized AS (
             |  SELECT band, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
             |kept AS (
             |  SELECT b.* FROM bands b JOIN sized s USING (band, band_key)
             |  WHERE s.n <= 1000)
             |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |FROM kept x JOIN kept y
             |  ON x.band = y.band AND x.band_key = y.band_key AND y.doc_id > x.doc_id
             |ORDER BY d1, d2""".stripMargin)),

    // ---- SimHash near-dup candidates (no ANSI-SQL oracle: 64-bit
    // bit-vote packing; verified by ScalaTest against planted dups) ----
    QuerySpec("q21_simhash",
      (s, dir) => DedupFunctions
        .simhashCandidates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("d1"), col("d2")),
      None),

    // ---- brute-force cosine top-k (ANN exact baseline) ----
    QuerySpec("q22_ann_cosine",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        VectorFunctions.bruteForceTopK(
            e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id < 10),
             |sc AS (
             |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |    list_cosine_similarity(q.v, e.v) AS sim
             |  FROM q CROSS JOIN e WHERE e.vec_id != q.vec_id),
             |r AS (
             |  SELECT query_id, neighbor_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             |  FROM sc)
             |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- LSH-bucketed ANN (scale path; no SQL oracle — recall is
    // probabilistic; ScalaTest checks bucket determinism + self-recall) ----
    QuerySpec("q23_srp_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        VectorFunctions.srpTopK(
            e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
            dim = 64, k = 3, nBits = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      None),

    // ---- language id (marker-word scoring) ----
    QuerySpec("q24_lang_id",
      // distinct-token array computed once in a projection; langId's
      // per-language scores then share it instead of re-tokenizing 5×
      (s, dir) => t(s, dir, "documents")
        .select(array_distinct(TextFunctions.tokens(col("text"))).as("tk"))
        .select(TextFunctions.langIdFromTokens(col("tk"), LangMarkers).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred")),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tk
             |  FROM documents),
             |sc AS (
             |  SELECT doc_id,
             |    len(list_intersect(tk, ['the', 'a', 'value'])) AS s_en,
             |    len(list_intersect(tk, ['table', 'key'])) AS s_de,
             |    len(list_intersect(tk, ['query', 'group'])) AS s_fr,
             |    len(list_intersect(tk, ['fast', 'slow'])) AS s_es,
             |    len(list_intersect(tk, ['stream', 'row'])) AS s_zh
             |  FROM tk),
             |pred AS (
             |  SELECT CASE
             |    WHEN s_en > 0 AND s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
             |    WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_zh) THEN 'de'
             |    WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_de, s_es, s_zh) THEN 'fr'
             |    WHEN s_es > 0 AND s_es >= greatest(s_en, s_de, s_fr, s_zh) THEN 'es'
             |    WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_de, s_fr, s_es) THEN 'zh'
             |    ELSE 'und' END AS lang_pred
             |  FROM sc)
             |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n
             |FROM pred GROUP BY 1 ORDER BY lang_pred""".stripMargin)),

    // ---- normalized-content fingerprint dedup ----
    QuerySpec("q27_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(TextFunctions.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n"))
        .orderBy(col("fp")),
      Some("""SELECT md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp,
             |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin)),

    // ---- BPE-ish token counting per source ----
    QuerySpec("q29_token_count",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextFunctions.bpeTokenCount(col("text"))).cast("long").as("total_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source")),
      Some("""SELECT source,
             |  CAST(sum(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))) AS BIGINT) AS total_tokens,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- rolling-hash fingerprint (order-sensitive; no SQL oracle —
    // sequential fold; ScalaTest checks permutation sensitivity) ----
    QuerySpec("q30_rolling_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rh"))
        .orderBy(col("doc_id")),
      None),

    // ---- MinHash-LSH, production hash family (xxhash64) — the bench/
    // scale path. q20 keeps the md5-portable family solely because the
    // DuckDB oracle must reproduce hashes bit-for-bit; no SQL oracle
    // here (engine-specific hash), ScalaTest checks recall on planted
    // duplicates instead. ----
    QuerySpec("q31_minhash_lsh_fast",
      (s, dir) => DedupFunctions
        .minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, k = 12, r = 2, portable = false)
        .orderBy(col("d1"), col("d2")),
      None),

    // ---- quality-score components: emit COUNTS, not ratios — the
    // score's divisions/rounding stay in Spark (HALF_UP vs half-even
    // makes rounded ratios oracle-hostile); the oracle checks the
    // inputs that determine the score ----
    QuerySpec("q34_quality_components",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("tk"),
          length(col("text")).as("n_chars_txt"),
          size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
            .cast("long").as("n_punct"))
        .select(col("doc_id"), col("n_chars_txt").cast("long").as("n_chars_txt"),
          col("n_punct"),
          size(col("tk")).cast("long").as("n_tok"),
          size(filter(col("tk"), x => x.isin("the", "a", "of", "and", "to")))
            .cast("long").as("n_stop"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars_txt,
             |  CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS n_punct,
             |  CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok,
             |  CAST(length(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |    t -> list_contains(['the', 'a', 'of', 'and', 'to'], t))) AS BIGINT) AS n_stop
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- duplicate-cluster resolution over the portable MinHash
    // candidates: transitive closure → min-id cluster labels. The
    // oracle reproduces the closure with WITH RECURSIVE. ----
    QuerySpec("q33_dup_clusters",
      (s, dir) => DedupFunctions
        .dupClusters(DedupFunctions.minhashCandidates(
          t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, k = 12, r = 2, portable = true))
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, len(w) - 2),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM w WHERE len(w) >= 3),
             |hs AS (
             |  SELECT doc_id, list_transform(s, tk ->
             |    CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) & 1073741823) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id, list_transform(generate_series(0, 11), i ->
             |    list_min(list_transform(hs, h ->
             |      ((1000003*i + 12289) * h + (7919*i + 104729)) % 2147483647))) AS sig
             |  FROM hs),
             |bands AS (
             |  SELECT doc_id, bb AS band,
             |    sig[2*bb + 1]::VARCHAR || '_' || sig[2*bb + 2]::VARCHAR AS band_key
             |  FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |sized AS (
             |  SELECT band, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
             |kept AS (
             |  SELECT b.* FROM bands b JOIN sized s USING (band, band_key)
             |  WHERE s.n <= 1000),
             |pairs AS (
             |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |  FROM kept x JOIN kept y
             |    ON x.band = y.band AND x.band_key = y.band_key AND y.doc_id > x.doc_id),
             |edges AS (
             |  SELECT d1 AS a, d2 AS b FROM pairs
             |  UNION SELECT d2, d1 FROM pairs
             |  UNION SELECT d1, d1 FROM pairs
             |  UNION SELECT d2, d2 FROM pairs),
             |reach AS (
             |  SELECT a AS node, b AS r FROM edges
             |  UNION
             |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
             |SELECT node AS doc_id, min(r) AS cluster_id
             |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // ---- embedding-cosine near-dup pairs (exact threshold self-join;
    // the all-pairs baseline — the LSH-bucketed scale path is
    // cosineNearDupBucketed, property-tested for subset+recall) ----
    QuerySpec("q35_cosine_neardup",
      (s, dir) => VectorFunctions.cosineNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("d1"), col("d2")),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (
             |  SELECT a.vec_id AS d1, b.vec_id AS d2,
             |    list_cosine_similarity(a.v, b.v) AS sim
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |SELECT d1, d2, round(sim, 4) AS sim FROM p
             |WHERE sim >= 0.4 ORDER BY d1, d2""".stripMargin)),

    // ---- IVF ANN: spherical-kmeans coarse quantizer + probed search.
    // No SQL oracle (iterative kmeans isn't ANSI-expressible); IvfSpec
    // anchors correctness: nProbes = k is bit-equal to brute force,
    // identical vectors recalled at one probe, deterministic ----
    QuerySpec("q36_ivf_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cents = VectorFunctions.ivfTrain(e, "embedding", dim = 64,
          k = 16, iters = 2)
        VectorFunctions.ivfTopK(e.filter(col("vec_id") < 10), e,
            "vec_id", "embedding", dim = 64, k = 3, cents, nProbes = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      None),

    // ---- deterministic hash sample + train/val/test split: content-
    // hash driven (no rand()), so the draw is stable under retries,
    // AQE re-plans, and any partitioning — a scan-level filter plus
    // one projection, no shuffle until the audit groupBy ----
    QuerySpec("q37_hash_split",
      (s, dir) => {
        val d = SamplingFunctions.hashSample(
          t(s, dir, "documents"), col("doc_id"), percent = 50)
        d.select(col("lang"),
            SamplingFunctions.splitColumn(col("doc_id"), trainPct = 80, valPct = 10)
              .as("split"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("split"))
      },
      Some("""WITH s AS (
             |  SELECT lang,
             |    CAST('0x' || substr(md5('split:' || doc_id), 1, 15) AS BIGINT) % 100 AS b
             |  FROM documents
             |  WHERE CAST('0x' || substr(md5('sample:' || doc_id), 1, 15) AS BIGINT) % 100 < 50)
             |SELECT lang,
             |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // ---- repetition stats (Gopher-style): top-token count per doc via
    // the single-pass native expression — per-row compute only, zero
    // shuffle, so it rides the scan at any scale ----
    QuerySpec("q38_repetition",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tok"),
          TextFunctions.topTokenCount(col("tk")).as("top_tok_n"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |  FROM documents),
             |cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
             |agg AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
             |    CAST(max(c) AS BIGINT) AS top_tok_n
             |  FROM cnt GROUP BY 1)
             |SELECT d.doc_id AS doc_id, COALESCE(a.n_tok, 0) AS n_tok,
             |  COALESCE(a.top_tok_n, 0) AS top_tok_n
             |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- per-source quota (domain mixing): cap each source at a
    // budget, deterministic tie-break — one shuffle on the group key,
    // output bounded at |groups| × n ----
    QuerySpec("q39_quota",
      (s, dir) => SamplingFunctions.quotaPerGroup(
          t(s, dir, "documents"), col("source"),
          col("n_chars").desc, col("doc_id").asc, n = 20)
        .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"))
        .orderBy(col("source"), col("rk")),
      Some("""WITH r AS (
             |  SELECT source, doc_id, row_number() OVER (
             |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM documents)
             |SELECT source, doc_id, rk FROM r WHERE rk <= 20
             |ORDER BY source, rk""".stripMargin)),

    // ---- sequence packing (chunked, 500-token bins): docs are packed
    // in deterministic doc_id order WITHIN each language partition, so
    // the window never needs a global sort — per-group sequential
    // packing, groups fill in parallel (the scale shape; a single
    // global pack order would serialize on one task) ----
    QuerySpec("q41_pack",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tok"))
          .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("pack_id", floor(col("cum_before") / 500).cast("long"))
          .groupBy(col("lang"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("pack_tokens"))
          .orderBy(col("lang"), col("pack_id"))
      },
      Some("""WITH c AS (
             |  SELECT lang, doc_id,
             |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
             |  FROM documents),
             |p AS (
             |  SELECT lang, n_tok, CAST(COALESCE(sum(n_tok) OVER (
             |    PARTITION BY lang ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |  FROM c)
             |SELECT lang, CAST(floor(cum_before / 500) AS BIGINT) AS pack_id,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens
             |FROM p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin)),

    // ---- corpus vocabulary: top-50 tokens by frequency. One shuffle
    // with map-side partial aggregation; the top-k is a TakeOrdered
    // (never a full sort of the vocabulary) ----
    QuerySpec("q42_vocab",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(50),
      Some("""SELECT w AS tok, CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |      FROM documents)
             |GROUP BY 1 ORDER BY n DESC, tok LIMIT 50""".stripMargin)),

    // ---- decontamination screen: training docs sharing any 5-gram
    // with the benchmark set (doc_id < 20). Shingles travel as 8-byte
    // portable hashes on both sides (identical in the oracle, so a
    // collision — astronomically unlikely — would be identical too);
    // the benchmark side is tiny and broadcasts, so the corpus never
    // shuffles: the 100 TB decontamination shape ----
    QuerySpec("q43_decontaminate",
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
          .select(col("doc_id"),
            explode(TextFunctions.shinglesFromWords(col("w"), 5)).as("sh"))
          .select(col("doc_id"), graft.functions.Hashes.md5Long(col("sh")).as("h"))
        val bench = sh.filter(col("doc_id") < 20).select(col("h")).distinct()
        sh.filter(col("doc_id") >= 20)
          .join(broadcast(bench), Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(w) - 4),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS sh
             |  FROM w WHERE len(w) >= 5),
             |h AS (SELECT doc_id,
             |  CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h FROM sh),
             |b AS (SELECT DISTINCT h FROM h WHERE doc_id < 20)
             |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
             |FROM h s JOIN b USING (h) WHERE s.doc_id >= 20
             |GROUP BY 1 ORDER BY s.doc_id""".stripMargin)),

    // ---- semantic (SemDeDup-style) embedding dedup: exact cosine
    // near-dup pairs → connected components → cluster memberships.
    // Composes two already-gated operators end-to-end; the oracle
    // chains the q35 pair SQL into the q33 WITH RECURSIVE closure ----
    QuerySpec("q44_semantic_dedup",
      (s, dir) => DedupFunctions.dupClusters(
          VectorFunctions.cosineNearDupPairs(
            t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
            .select(col("d1"), col("d2")))
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE
             |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (
             |  SELECT a.vec_id AS d1, b.vec_id AS d2
             |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
             |edges AS (
             |  SELECT d1 AS a, d2 AS b FROM p
             |  UNION SELECT d2, d1 FROM p
             |  UNION SELECT d1, d1 FROM p
             |  UNION SELECT d2, d2 FROM p),
             |reach AS (
             |  SELECT a AS node, b AS r FROM edges
             |  UNION
             |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
             |SELECT node AS doc_id, min(r) AS cluster_id
             |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // ---- rolling fingerprint, portable hash family — promotes the
    // order-sensitive fingerprint (q30's operator) into the
    // hash-matched gate; same fast/portable split as q31/q20. The
    // oracle reproduces the polynomial fold with list_reduce ----
    QuerySpec("q45_rolling_portable",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.rollingHashPortable(col("text")).as("rh"))
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
             |hs AS (SELECT doc_id, list_transform(t, tok ->
             |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1000000007) AS hs
             |  FROM tk)
             |SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
             |    (acc, h) -> (acc * 1000003 + h) % 1000000007) AS rh
             |FROM hs ORDER BY doc_id""".stripMargin)),

    // ---- passage-level exact dedup: globally-first occurrence wins,
    // documents reassembled from surviving passages in original order
    // (Dolma-style paragraph dedup over fixed 10-token windows) ----
    QuerySpec("q46_passage_dedup",
      (s, dir) => DedupFunctions
        .passageDedup(t(s, dir, "documents"), "doc_id", "text", passageTokens = 10)
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
             |      FROM documents
             |      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
             |p AS (SELECT doc_id, i AS pos,
             |        array_to_string(w[(i*10 + 1):(i*10 + 10)], ' ') AS passage
             |      FROM w, unnest(generate_series(0, (len(w) - 1) // 10)) AS u(i)),
             |f AS (SELECT passage, min(doc_id * 1000000 + pos) AS fk
             |      FROM p GROUP BY passage),
             |k AS (SELECT p.*, (doc_id * 1000000 + pos = fk) AS keep
             |      FROM p JOIN f USING (passage))
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_passages,
             |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  md5(coalesce(string_agg(CASE WHEN keep THEN passage END, ' ' ORDER BY pos), '')) AS kept_fp
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- SimHash, portable hash family — oracle-gates the simhash
    // operator itself (q21's banding is verified by ScalaTest; this
    // pins the underlying bit-vote hash cross-engine). The oracle
    // reproduces the vote per (doc, bit) by exploding tokens x bits ----
    QuerySpec("q48_simhash_portable",
      (s, dir) => {
        import graft.functions.Hashes
        t(s, dir, "documents")
          .filter(TextFunctions.tokenCount(col("text")) > 0)
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
          .select(col("doc_id"),
            transform(col("tk"), tok => Hashes.md5Long(tok)).as("hs"))
          .select(col("doc_id"),
            DedupFunctions.simhash60Portable(col("hs")).as("sh"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
             |      FROM documents
             |      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
             |h AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(t)), 1, 15) AS BIGINT) AS h
             |      FROM tk),
             |b AS (SELECT doc_id, bit,
             |        sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |      FROM h, unnest(generate_series(0, 59)) AS u(bit)
             |      GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sh
             |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- semantic dedup, PRODUCTION scale path: SRP-bucketed
    // candidates -> exact cosine verify -> connected components. The
    // 100 TB form of q44 (which broadcasts the corpus all-pairs and is
    // kept as the exact ORACLE ANCHOR only). No DuckDB oracle — the
    // SRP buckets derive from Spark's xxhash64, which no external
    // engine reproduces; correctness is anchored by q44 (same
    // composition, exact candidates, hash-matched) plus the
    // DedupPropertySpec refinement/recall/determinism properties.
    // nBits tunes to the threshold: per-bit collision odds for a
    // true pair are 1 - acos(t)/pi, so the LOW anchor threshold (0.4,
    // chosen because small-SF data has few high-cosine pairs) needs
    // short band keys (2 bits, ~0.63^2 per band -> ~0.97 edge recall
    // over 8 bands); the SemDeDup production regime (t >= 0.95,
    // ~0.93/bit) supports 8+ bits per band, whose 2^8 buckets per
    // band are what partition a 100 TB corpus ----
    QuerySpec("q49_semantic_dedup_scale",
      (s, dir) => VectorFunctions.semanticDedupBucketed(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.4, nBits = 2, bands = 8)
        .orderBy(col("doc_id")),
      None),

    // ---- REAL BPE token budgeting: merges-table tokenizer (the
    // production twin of q29's char-class proxy). No DuckDB oracle —
    // BPE is an iterative lowest-rank-merge loop, not SQL-expressible;
    // correctness is anchored by BpeSpec (hand-computed merges, the
    // textbook training corpus, and expression==driver-encode over a
    // frame). The model ships as ONE plan reference object (like the
    // IVF centroids) — never a join side, no per-row state ----
    QuerySpec("q50_bpe_token_budget",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(graft.functions.Bpe.tokenCount(lower(col("text")), DevBpeModel))
            .as("total_bpe_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang")),
      None),

    // ---- corpus-mix divergence: which tokens differ most between two
    // source groups (crawl-A vs crawl-B drift detection). Integer
    // counts only — no log-odds division, so the gate is float-free.
    // One shuffle with map-side partial agg; the top-k is a
    // TakeOrdered over the vocabulary, never a full sort ----
    QuerySpec("q51_source_divergence",
      (s, dir) => {
        val a = Seq("src0", "src1", "src2", "src3", "src4")
        val b = Seq("src5", "src6", "src7", "src8", "src9")
        t(s, dir, "documents")
          .filter(col("source").isin((a ++ b).map(x => x: Any): _*))
          .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy(col("tok"))
          .agg(
            sum(when(col("source").isin(a.map(x => x: Any): _*), 1L).otherwise(0L)).as("n_a"),
            sum(when(col("source").isin(b.map(x => x: Any): _*), 1L).otherwise(0L)).as("n_b"))
          .withColumn("delta", abs(col("n_a") - col("n_b")))
          .orderBy(col("delta").desc, col("tok"))
          .limit(20)
          .select(col("tok"), col("n_a"), col("n_b"), col("delta"))
      },
      Some("""WITH tk AS (
             |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             |  FROM documents
             |  WHERE source IN ('src0','src1','src2','src3','src4',
             |                   'src5','src6','src7','src8','src9')),
             |c AS (
             |  SELECT tok,
             |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(sum(CASE WHEN source IN ('src5','src6','src7','src8','src9')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM tk GROUP BY tok)
             |SELECT tok, n_a, n_b, abs(n_a - n_b) AS delta
             |FROM c ORDER BY delta DESC, tok LIMIT 20""".stripMargin)),

    // ---- stratified deterministic sampling: per-language keep
    // percentages (downsample the dominant language, keep the rest)
    // via the portable hash family — same scan-level-filter shape as
    // q37, zero shuffles before the audit agg. id_sum pins the exact
    // sampled MEMBERSHIP cross-engine, not just the counts ----
    QuerySpec("q52_stratified_sample",
      (s, dir) => SamplingFunctions.stratifiedSample(
          t(s, dir, "documents"), col("doc_id"), col("lang"),
          pctByStratum = Map("en" -> 20, "zh" -> 50), defaultPct = 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang")),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents
             |WHERE CAST('0x' || substr(md5('strat:' || doc_id), 1, 15) AS BIGINT) % 100 <
             |  CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 50 ELSE 100 END
             |GROUP BY 1 ORDER BY lang""".stripMargin)),

    // ---- per-label embedding norm stats: vector count + argmax-norm
    // member per label (embedding-space sanity screen: a label whose
    // max-norm member is an outlier flags bad batches). Doubles stay
    // INTERNAL — the gate emits only integers; the fold is a
    // left-to-right IEEE sum in both engines, so the argmax ordering
    // is bit-reproducible. One shuffle (groupBy label) after a
    // scan-shaped norm projection ----
    QuerySpec("q53_norm_argmax",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sq = t(s, dir, "embeddings")
          .select(col("label"), col("vec_id"),
            aggregate(col("embedding"), lit(0.0d),
              (acc, x) => acc + x.cast("double") * x.cast("double")).as("sq"))
        sq.withColumn("rk", row_number().over(
            Window.partitionBy(col("label")).orderBy(col("sq").desc, col("vec_id").desc)))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            max(when(col("rk") === 1, col("vec_id"))).as("top_vec_id"))
          .orderBy(col("label"))
      },
      Some("""WITH sq AS (
             |  SELECT label, vec_id,
             |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
             |      (acc, x) -> acc + x) AS sq
             |  FROM embeddings),
             |r AS (
             |  SELECT label, vec_id, row_number() OVER (
             |    PARTITION BY label ORDER BY sq DESC, vec_id DESC) AS rk
             |  FROM sq)
             |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(max(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT) AS top_vec_id
             |FROM r GROUP BY label ORDER BY label""".stripMargin)),

    // ---- boilerplate n-gram mining: 5-gram shingles by document
    // frequency (df >= 2) — the header/footer/template detector that
    // feeds passage-level dedup. Shingles are distinct-per-doc before
    // the explode so df counts documents, not occurrences; one shuffle
    // with partial agg, TakeOrdered top-k ----
    QuerySpec("q54_boilerplate_ngrams",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
        .select(col("doc_id"),
          explode(TextFunctions.shinglesFromWords(col("w"), 5)).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
        .orderBy(col("df").desc, col("sh"))
        .limit(20),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(w) - 4),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS sh
             |  FROM w WHERE len(w) >= 5)
             |SELECT sh, CAST(count(*) AS BIGINT) AS df
             |FROM sh GROUP BY 1 HAVING count(*) >= 2
             |ORDER BY df DESC, sh LIMIT 20""".stripMargin)),

    // ---- token-length histogram per language: integer-division
    // buckets (div, not floating /, so the bucket edges are exact in
    // both engines). The corpus-shape monitor a mixing pipeline reads
    // before setting packing lengths — scan + one small shuffle ----
    QuerySpec("q55_length_histogram",
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), TextFunctions.tokenCount(col("text")).as("tok_n"))
        .select(col("lang"), least(expr("tok_n div 10"), lit(20L)).as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("bucket")),
      Some("""SELECT lang,
             |  least(len(regexp_extract_all(lower(text), '[a-z0-9]+')) // 10, 20) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    // ---- deterministic per-group reservoir: a uniform k-doc draw per
    // source in portable-hash order — reproducible eyeball/eval
    // slices. Emits the full membership (not an aggregate): the gate
    // pins the exact draw cross-engine ----
    QuerySpec("q56_reservoir",
      (s, dir) => SamplingFunctions.reservoirPerGroup(
          t(s, dir, "documents"), col("source"), col("doc_id"), n = 5)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id")),
      Some("""WITH r AS (
             |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
             |    ORDER BY CAST('0x' || substr(md5('resv:' || doc_id), 1, 15) AS BIGINT),
             |             doc_id) AS rk
             |  FROM documents)
             |SELECT source, doc_id FROM r WHERE rk <= 5
             |ORDER BY source, doc_id""".stripMargin)),

    // ---- mixture sampling toward equal language shares: the static
    // data-mixing primitive (downsample dominant strata to a target
    // share, keep the rest). Integer basis-point arithmetic + portable
    // hash membership — the whole draw reproduces bit-for-bit. id_sum
    // pins exact membership ----
    QuerySpec("q57_mixture_sample",
      (s, dir) => SamplingFunctions.mixtureSample(
          t(s, dir, "documents"), col("doc_id"), col("lang"),
          targetBp = Map("en" -> 2000, "de" -> 2000, "es" -> 2000,
            "fr" -> 2000, "zh" -> 2000))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang")),
      Some("""WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY 1),
             |t AS (SELECT sum(n_g) AS total FROM c),
             |r AS (SELECT lang, least(10000, (2000 * total) // n_g) AS rate_bp
             |      FROM c, t)
             |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents d JOIN r USING (lang)
             |WHERE CAST('0x' || substr(md5('mix:' || doc_id), 1, 15) AS BIGINT) % 10000
             |  < rate_bp
             |GROUP BY 1 ORDER BY d.lang""".stripMargin)),

    // ---- context-window chunking: split each doc's token stream into
    // fixed-width chunks (the materialization step before sequence
    // packing, q41) — emits one row per chunk with its width and a
    // portable fingerprint. Scan-shaped: tokens materialize once per
    // doc, the explode fans out chunk indices, no shuffle until the
    // presentation sort ----
    QuerySpec("q62_chunking",
      (s, dir) => {
        val C = 16
        t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) > 0)
          .withColumn("n", size(col("tk")))
          .select(col("doc_id"), col("tk"),
            explode(sequence(lit(0), expr(s"(n - 1) div $C").cast("int")))
              .as("chunk_idx"))
          .select(col("doc_id"), col("chunk_idx"),
            slice(col("tk"), col("chunk_idx") * C + 1, lit(C)).as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("n_tok"),
            md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_fp"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
             |  FROM documents
             |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
             |c AS (
             |  SELECT doc_id, i AS chunk_idx, tk[(i*16 + 1):(i*16 + 16)] AS chunk
             |  FROM tk, unnest(generate_series(0, (len(tk) - 1) // 16)) AS u(i))
             |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
             |  CAST(len(chunk) AS BIGINT) AS n_tok,
             |  md5(array_to_string(chunk, ' ')) AS chunk_fp
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- token-rarity scoring: per doc, the sum of each token's
    // GLOBAL corpus frequency (low sum/token = rare vocabulary — the
    // integer-safe core of a unigram-LM surprisal score; the division
    // into a mean happens downstream where cross-engine rounding
    // doesn't gate). Two passes over the exploded tokens: one partial-
    // agg shuffle builds the vocab, one join scores docs against it ----
    QuerySpec("q63_token_rarity",
      (s, dir) => {
        // materialized once in the COMPACT per-doc array form (the
        // q170 shape): vocab AND the scoring join both derive from it,
        // so the scan + regex tokenize run once — while the checkpoint
        // holds text-sized arrays, not the exploded row form (which
        // would cost more to serialize than the re-scan it saves); the
        // cheap explode re-runs per branch
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
          .localCheckpoint()
        val toks = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        toks.join(vocab, Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("tf")).as("tf_sum"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             |  FROM documents),
             |vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |  CAST(sum(tf) AS BIGINT) AS tf_sum
             |FROM toks JOIN vocab USING (tok)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- bigram collocations: top adjacent-token pairs — the
    // phrase-mining signal (template detection at finer grain than
    // q54's 5-grams). Pairs come from one zip of the token array with
    // its own tail (no self-join, no second tokenize); one shuffle
    // with partial agg, TakeOrdered top-20 ----
    QuerySpec("q69_bigrams",
      (s, dir) => t(s, dir, "documents")
        .select(TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        // equal-length slices (head n-1, tail n-1): zip_with pads the
        // shorter side with null, and concat_ws SKIPS nulls — uneven
        // slices would smuggle a unigram row in for the last token
        .select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(20),
      Some("""WITH tk AS (
             |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
             |  FROM documents
             |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2),
             |b AS (
             |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
             |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
             |  FROM tk)
             |SELECT bigram, CAST(count(*) AS BIGINT) AS n
             |FROM b GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),

    // ---- exact per-group median by rank pick (no percentile_cont —
    // interpolation rounding is engine-specific; the middle-element
    // pick is integer-exact in both): the doc-length center a packing
    // pipeline reads. One shuffle + ranked window ----
    QuerySpec("q70_median_length",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("tok_n"), col("doc_id"))
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("tok_n"))
          .withColumn("rk", row_number().over(w))
          .withColumn("n_g", count(lit(1)).over(Window.partitionBy(col("lang"))))
          .filter(expr("rk = (n_g + 1) div 2")) // div, not `/` (double)
          .select(col("lang"), col("n_g").as("n_docs"), col("tok_n").as("median_tok"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (
             |  SELECT lang, doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS tok_n
             |  FROM documents),
             |r AS (
             |  SELECT lang, tok_n,
             |    row_number() OVER (PARTITION BY lang ORDER BY tok_n, doc_id) AS rk,
             |    count(*) OVER (PARTITION BY lang) AS n_g
             |  FROM t)
             |SELECT lang, n_g AS n_docs, tok_n AS median_tok
             |FROM r WHERE rk = (n_g + 1) // 2 ORDER BY lang""".stripMargin)),

    // ---- compressibility screen: per-source doc counts below the
    // repetitiveness threshold (deflate ratio < 0.35 — boilerplate/
    // spam). No DuckDB oracle (zlib isn't SQL-expressible); anchored
    // by PiiSpec-style crafted-row assertions in TextQualitySpec.
    // Scan-shaped: the native expression rides the parquet read ----
    QuerySpec("q61_compressibility",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          TextFunctions.compressionRatio(col("text")).as("cr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cr") < 0.35, 1L).otherwise(0L)).as("n_repetitive"))
        .orderBy(col("source")),
      None),

    // ---- semantic dedup, K-MEANS scale path (SemDeDup as published):
    // spherical k-means partition -> within-cell exact verification ->
    // connected components. The low/any-threshold production form —
    // SRP banding (q49) prunes only at high thresholds, while the
    // k-means partition cuts candidate volume to n²/2k at ANY
    // threshold. No DuckDB oracle (centroid init derives from
    // xxhash64); anchored by q44's exact hash-matched twin plus
    // DedupPropertySpec subset/recall/determinism properties ----
    QuerySpec("q58_semantic_dedup_kmeans",
      // probes=2 because the anchor threshold is LOW (0.4, forced by
      // this synthetic data — no pairs exist above cosine 0.8): at 0.4
      // near-dups sit near cell boundaries, and multi-assignment
      // recovers them (measured at sf0.01: 0.31 pair-recall with
      // probes=1 vs 0.80 with probes=2 at 24% of all-pairs cost). In
      // the production regime (t >= 0.9) duplicates hug their centroid
      // and probes=1 is the right call.
      (s, dir) => VectorFunctions.semanticDedupKmeans(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.4, k = 16, probes = 2)
        .orderBy(col("doc_id")),
      None),

    // ---- semantic dedup scale paths in their PRODUCTION regime
    // (t = 0.9), hash-matched. The synthetic embeddings have no
    // natural pair above cosine 0.85 (measured at every SF), so the
    // queries PLANT duplicate groups the oracle can reproduce exactly:
    // every 20th vector gains two exact copies at offset ids. Exact
    // copies make recall deterministic for both paths — identical
    // vectors share every SRP bucket and every nearest centroid — so
    // the gate pins the full pipeline (banding/cell shuffle → bounded
    // buckets → exact verify → pointer-jump clustering) against the
    // all-pairs DuckDB closure, in the regime where the pruning is
    // real (at t=0.9/nBits=8 a random pair collides in a band with
    // p≈1e-8 vs ~0.9 per planted pair; see PLANS.md regime map).
    // Near-miss (0.95-0.99) recall and the candidate-volume bound are
    // SemanticDedupScaleSpec's job — floats that close to the
    // threshold have no business in a cross-engine hash gate. ----
    QuerySpec("q71_semantic_dedup_scale_hi",
      (s, dir) => VectorFunctions.semanticDedupBucketed(
          plantedDupCorpus(t(s, dir, "embeddings")), "vec_id", "embedding",
          dim = 64, threshold = 0.9, nBits = 8, bands = 4)
        .orderBy(col("doc_id")),
      Some(PlantedDupOracle)),

    QuerySpec("q72_semantic_dedup_kmeans_hi",
      // probes=1: in the production regime duplicates hug their
      // centroid (and exact copies share it), so single assignment is
      // both sufficient and the n²/2k-candidate configuration
      (s, dir) => VectorFunctions.semanticDedupKmeans(
          plantedDupCorpus(t(s, dir, "embeddings")), "vec_id", "embedding",
          dim = 64, threshold = 0.9, k = 16, probes = 1)
        .orderBy(col("doc_id")),
      Some(PlantedDupOracle)),

    // ---- distinctive keywords: per doc, the top-3 tokens by tf/df
    // rank — the integer-safe core of tf-idf (for a fixed corpus the
    // idf factor ln(N/df) is monotone-decreasing in df, so ranking by
    // the rational tf/df agrees with tf·idf whenever df ties break the
    // same way; the rational form stays in BIGINT where ln() would put
    // engine-specific doubles inside the gate). Score = tf * 1e8 div
    // df — integer division, identical in both engines. Two shuffles
    // (per-doc tf, global df) + a ranked window ----
    QuerySpec("q74_tfidf_keywords",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // tf feeds BOTH the df fold and the scoring join — pinned so
        // the corpus pass runs once, not per reference
        val tf = t(s, dir, "documents")
          .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tok"))
        tf.join(df, Seq("tok"))
          .withColumn("score", expr("tf * 100000000L div df"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("tok"),
            col("tf"), col("df"), col("score"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (
             |  SELECT doc_id, tok, tf, df, (tf * 100000000) // df AS score
             |  FROM tf JOIN df USING (tok)),
             |r AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
             |  FROM sc)
             |SELECT doc_id, CAST(rk AS INTEGER) AS rk, tok,
             |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             |  CAST(score AS BIGINT) AS score
             |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ---- bigram-LM novelty: per doc, how fluent/formulaic its
    // adjacent-token pairs are against the corpus bigram table — the
    // integer-safe core of a CCNet-style LM quality score (the
    // log-probability sum happens downstream of these counts, where
    // cross-engine float rounding doesn't gate). n_singleton counts
    // bigrams unique to this doc (novelty); bg_tf_sum is the corpus-
    // frequency mass (formulaic-ness). q63's unigram shape, one level
    // up: one zip per doc, one vocab shuffle, one scoring join ----
    QuerySpec("q75_bigram_novelty",
      (s, dir) => {
        val bg = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          // equal-length slices — see q69's null-padding note
          .select(col("doc_id"), explode(zip_with(
            slice(col("tk"), lit(1), size(col("tk")) - 1),
            slice(col("tk"), lit(2), size(col("tk")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bigram"))
          // pinned: vocab + the join both read it (multi-reference rule)
          .localCheckpoint()
        val vocab = bg.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        bg.join(vocab, Seq("bigram"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bg"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singleton"),
            sum(col("n")).as("bg_tf_sum"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
             |  FROM documents
             |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2),
             |b AS (
             |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
             |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
             |  FROM tk),
             |g AS (SELECT bigram, count(*) AS n FROM b GROUP BY 1)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
             |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
             |  CAST(sum(n) AS BIGINT) AS bg_tf_sum
             |FROM b JOIN g USING (bigram)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- Gopher-style quality rules (Rae et al. 2021, §A.1.1): the
    // published pre-training filter set, integer-exact — word-count
    // bounds, mean-word-length bounds, stopword floor, repetition
    // ceiling. Every ratio threshold is cross-multiplied (sum_len*10 <
    // n_tok*42 ≡ mean < 4.2) so the gate never divides. Thresholds
    // adapted to this corpus's 31-token vocabulary; the production
    // values (50..100k words, mean 3..10, 2 stopwords, 0.2 unique) are
    // the ctor defaults in a pipeline. Scan-shaped: one tokenize, four
    // rule projections, one per-source aggregate ----
    QuerySpec("q78_gopher_rules",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), TextFunctions.tokens(col("text")).as("tk"))
        .select(col("source"),
          size(col("tk")).cast("long").as("n_tok"),
          length(array_join(col("tk"), "")).cast("long").as("sum_len"),
          size(filter(col("tk"), x => x === "the" || x === "a")).cast("long").as("n_stop"),
          size(array_distinct(col("tk"))).cast("long").as("n_uniq"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tok") < 25, 1L).otherwise(0L)).as("fail_len"),
          sum(when(col("sum_len") * 10 < col("n_tok") * 42, 1L).otherwise(0L)).as("fail_wordlen"),
          sum(when(col("n_stop") < 2, 1L).otherwise(0L)).as("fail_stop"),
          sum(when(col("n_uniq") * 2 < col("n_tok"), 1L).otherwise(0L)).as("fail_rep"),
          sum(when(col("n_tok") >= 25 && col("sum_len") * 10 >= col("n_tok") * 42 &&
            col("n_stop") >= 2 && col("n_uniq") * 2 >= col("n_tok"), 1L)
            .otherwise(0L)).as("n_pass"))
        .orderBy(col("source")),
      Some("""WITH m AS (
             |  SELECT source,
             |    CAST(len(tk) AS BIGINT) AS n_tok,
             |    CAST(len(array_to_string(tk, '')) AS BIGINT) AS sum_len,
             |    CAST(len(list_filter(tk, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
             |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq
             |  FROM (SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
             |        FROM documents))
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN n_tok < 25 THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
             |  CAST(sum(CASE WHEN sum_len * 10 < n_tok * 42 THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
             |  CAST(sum(CASE WHEN n_stop < 2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
             |  CAST(sum(CASE WHEN n_uniq * 2 < n_tok THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
             |  CAST(sum(CASE WHEN n_tok >= 25 AND sum_len * 10 >= n_tok * 42
             |    AND n_stop >= 2 AND n_uniq * 2 >= n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
             |FROM m GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- PQ ANN: product-quantization codes + ADC candidate scan +
    // exact re-rank — the third ANN scale path beside SRP buckets
    // (q23) and IVF posting lists (q36), and the one that shrinks the
    // SCAN rather than the candidate set: the ADC pass reads m ints
    // per corpus row instead of dim doubles. No DuckDB oracle (the
    // codebooks are a trained model); PqSpec anchors it — refine
    // covering the corpus IS brute force, planted-copy recall,
    // recall@5 >= 0.8 at refine=4, determinism. DeterminismSpec
    // re-runs this entry end-to-end ----
    QuerySpec("q77_pq_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val books = VectorFunctions.pqTrain(e, "embedding", dim = 64,
          m = 8, ksub = 16, iters = 2)
        VectorFunctions.pqTopK(e.filter(col("vec_id") < 10), e,
            "vec_id", "embedding", dim = 64, k = 3, books, refine = 4)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
          .orderBy(col("query_id"), col("rank"))
      },
      None),

    // ---- asymmetric containment join: d1 mostly-inside-d2 pairs the
    // symmetric Jaccard (q19) structurally misses — sub-document
    // duplication (quotes, boilerplate-wrapped reposts). Exact
    // prefix-filtered inverted index, directed output, integer
    // evidence columns; the brute-force DuckDB closure reproduces it
    // bit-for-bit because the prefix filter is 100%-recall ----
    QuerySpec("q81_containment",
      (s, dir) => DedupFunctions
        .containmentJoin(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, threshold = 0.8)
        .orderBy(col("d1"), col("d2")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, len(w) - 2),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM w WHERE len(w) >= 3),
             |p AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2,
             |    len(list_intersect(a.s, b.s)) AS shared,
             |    len(a.s) AS n1, len(b.s) AS n2
             |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
             |SELECT d1, d2, CAST(shared AS BIGINT) AS shared,
             |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
             |FROM p WHERE shared * 1000000 >= n1 * 800000
             |ORDER BY d1, d2""".stripMargin)),

    // ---- semantic decontamination: the embedding-space twin of q43's
    // 5-gram decontamination — drop corpus vectors within cosine 0.9
    // of any benchmark vector (every 50th vector plays the planted
    // eval suite, so its exact copies in-corpus MUST drop). Broadcast
    // anti-join: corpus scans once, never shuffles; the 0.9 boundary
    // is decision-safe on this corpus (no natural pair sits near it —
    // the same gap q71/q72 rely on) ----
    QuerySpec("q83_semantic_decontaminate",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val bench = e.filter(pmod(col("vec_id"), lit(50)) === 0)
        VectorFunctions.semanticDecontaminate(e, bench, "embedding", 0.9)
          .select(col("vec_id"), col("label"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |b AS (SELECT v FROM e WHERE vec_id % 50 = 0)
             |SELECT vec_id, label FROM e
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM b WHERE list_cosine_similarity(e.v, b.v) >= 0.9)
             |ORDER BY vec_id""".stripMargin)),

    // ---- weighted deterministic sampling (Efraimidis–Spirakis A-ES):
    // length-biased draw of 50 docs — the non-uniform twin of q37's
    // hash sampling. Rank = -ln(u)/w from the portable hash, so the
    // oracle reproduces the exact membership (both engines take
    // correctly-rounded ln over identical doubles; rank gaps at the
    // cut are ~1e-2, 13 orders above any ulp drift). TakeOrdered
    // shape: per-partition top-k + driver merge, no corpus shuffle ----
    QuerySpec("q87_weighted_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
        SamplingFunctions.weightedSample(d, col("doc_id"), col("n_chars"), k = 50)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (
             |  SELECT doc_id, n_chars,
             |    -ln((CAST('0x' || substr(md5('wsample:' || doc_id), 1, 15) AS BIGINT) + 1)
             |        / 1152921504606846976.0) / n_chars AS rk
             |  FROM documents WHERE n_chars > 0),
             |s AS (SELECT doc_id, n_chars FROM r ORDER BY rk, doc_id LIMIT 50)
             |SELECT doc_id, n_chars FROM s ORDER BY doc_id""".stripMargin)),

    // ---- Misra–Gries heavy hitters, exact regime: capacity above the
    // corpus vocabulary means no counter is ever evicted, so the
    // sketch equals the groupBy-count — hash-gating the aggregator's
    // reduce/merge/finish plumbing (partial aggregation exercises the
    // mergeable-summaries combine). HeavyHittersSpec covers the lossy
    // regime's bounds, which no SQL oracle can express ----
    QuerySpec("q90_heavy_hitters",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .select(HeavyHitters.sketch(col("token"), 4096).as("m"))
        .select(explode(col("m")).as(Seq("token", "n_occ")))
        .orderBy(col("token")),
      Some("""SELECT token, CAST(count(*) AS BIGINT) AS n_occ
             |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |      FROM documents)
             |GROUP BY 1 ORDER BY token""".stripMargin)),

    // ---- self-hosted LM quality: per-source cross-entropy under the
    // corpus's own add-one-smoothed bigram model (the CCNet/KenLM
    // filter without the external model file). Counts are exact
    // integers; ln happens once at the end, so the 6-decimal gate is
    // decision-stable. Model tables join back on their natural keys —
    // never broadcast, never collected ----
    QuerySpec("q91_lm_quality",
      (s, dir) => graft.functions.LanguageModel.bigramCrossEntropy(
          t(s, dir, "documents"), col("source"))
        .withColumnRenamed("g", "source")
        .orderBy(col("source")),
      Some("""WITH tk AS (
             |  SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
             |  FROM documents),
             |tk2 AS (SELECT * FROM tk WHERE len(tk) >= 2),
             |bg AS (
             |  SELECT source,
             |    unnest(list_transform(generate_series(1, len(tk) - 1),
             |      i -> tk[i])) AS w1,
             |    unnest(list_transform(generate_series(1, len(tk) - 1),
             |      i -> tk[i] || ' ' || tk[i + 1])) AS bigram
             |  FROM tk2),
             |v AS (
             |  SELECT count(DISTINCT tok) AS vocab
             |  FROM (SELECT unnest(tk) AS tok FROM tk2)),
             |c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
             |c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1)
             |SELECT bg.source, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  -sum(ln((c2.n2 + 1.0) / (c1.n1 + v.vocab))) / count(*) AS xent
             |FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
             |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- canonicalization before hashing: NFC + control-strip +
    // space-collapse, then the dedup content hash. The gated corpus is
    // ASCII (NFC is identity there — NormalizeSpec carries the
    // composed/decomposed evidence); what this pins cross-engine is
    // the full normalize->hash pipeline and the portable regex forms ----
    QuerySpec("q95_normalize_hash",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          length(TextFunctions.normalizeText(col("text"))).as("n_norm"),
          md5(TextFunctions.normalizeText(col("text")).cast("binary")).as("h"))
        .orderBy(col("doc_id")),
      Some("""WITH n AS (
             |  SELECT doc_id,
             |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
             |      '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS norm
             |  FROM documents)
             |SELECT doc_id, CAST(length(norm) AS INT) AS n_norm, md5(norm) AS h
             |FROM n ORDER BY doc_id""".stripMargin)),

    // ---- rendezvous shard routing: coordination-free, resize-stable
    // assignment over the portable hash family — id_sum pins EVERY
    // individual assignment, not just the balance ----
    QuerySpec("q98_rendezvous_shards",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Sharding.rendezvousShard(
            col("doc_id").cast("string"), 8).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("shard")),
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    (list_max(list_transform(generate_series(0, 7), s ->
             |      {'h': CAST('0x' || substr(md5(doc_id || ':' || s), 1, 15)
             |            AS BIGINT),
             |       's': s}))).s AS shard
             |  FROM documents)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM a GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ---- per-dimension embedding moments: the feature-stats pass
    // before normalization/whitening (a dead or exploding dimension is
    // an upstream-encoder bug this table catches). One posexplode +
    // one shuffle on the dimension index — 64 groups regardless of
    // corpus size; variance derives from the two avgs in the final
    // projection, identically in both engines ----
    QuerySpec("q99_embedding_moments",
      (s, dir) => t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("i0", "f")))
        .select((col("i0") + 1).cast("long").as("i"),
          col("f").cast("double").as("v"))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("mean_v"),
          avg(col("v") * col("v")).as("m2"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .select(col("i"), col("n"), col("mean_v"),
          (col("m2") - col("mean_v") * col("mean_v")).as("var_v"),
          col("min_v"), col("max_v"))
        .orderBy(col("i")),
      Some("""WITH x AS (
             |  SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
             |    unnest(generate_series(1, len(embedding))) AS i
             |  FROM embeddings),
             |m AS (
             |  SELECT i, CAST(count(*) AS BIGINT) AS n, avg(v) AS mean_v,
             |    avg(v * v) AS m2, min(v) AS min_v, max(v) AS max_v
             |  FROM x GROUP BY 1)
             |SELECT i, n, mean_v, m2 - mean_v * mean_v AS var_v, min_v, max_v
             |FROM m ORDER BY i""".stripMargin)),

    // ---- exact per-group quartiles by rank pick (q70's median rule at
    // k/4, k=1..3: index ceil(k*n/4) as (k*n+3) div 4 — pure integer,
    // no interpolation, engine-exact). The doc-length spread profile a
    // packing/chunking pipeline reads; one shuffle, one window ----
    QuerySpec("q100_quartiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("tok_n"), col("doc_id"))
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("tok_n"))
          .withColumn("rk", row_number().over(w))
          .withColumn("n_g", count(lit(1)).over(Window.partitionBy(col("lang"))))
          .groupBy(col("lang"))
          .agg(max(col("n_g")).as("n_docs"),
            max(when(expr("rk = (n_g + 3) div 4"), col("tok_n"))).as("p25"),
            max(when(expr("rk = (2 * n_g + 3) div 4"), col("tok_n"))).as("p50"),
            max(when(expr("rk = (3 * n_g + 3) div 4"), col("tok_n"))).as("p75"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (
             |  SELECT lang, doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
             |      AS tok_n
             |  FROM documents),
             |r AS (
             |  SELECT lang, tok_n,
             |    row_number() OVER (PARTITION BY lang ORDER BY tok_n, doc_id) AS rk,
             |    count(*) OVER (PARTITION BY lang) AS n_g
             |  FROM t)
             |SELECT lang, CAST(max(n_g) AS BIGINT) AS n_docs,
             |  max(CASE WHEN rk = (n_g + 3) // 4 THEN tok_n END) AS p25,
             |  max(CASE WHEN rk = (2 * n_g + 3) // 4 THEN tok_n END) AS p50,
             |  max(CASE WHEN rk = (3 * n_g + 3) // 4 THEN tok_n END) AS p75
             |FROM r GROUP BY 1 ORDER BY lang""".stripMargin)),

    // ---- inverted index build (IR/retrieval side of the pipeline):
    // token → sorted posting list of doc ids. distinct-per-doc tokens
    // (one shuffle), df filter, then collect_list + sort_array — the
    // posting is assembled per token partition-locally; at corpus
    // scale high-df tokens are exactly the stopword band you CAP or
    // shard (the df floor here bounds output, the skew guard is the
    // same (token, doc_id) hash partitioning) ----
    QuerySpec("q112_inverted_index",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tok = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("token"))
          .filter(length(col("token")) >= 3)
          .distinct()
        // df as an analytic count over the SAME token partitioning the
        // posting aggregation needs — one shuffle, one scan; the
        // aggregate-then-join-back spelling re-derives the tokenize
        // subtree per branch (the two-branch anti-pattern)
        tok.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
          .filter(col("df") >= 300)
          .groupBy(col("token"), col("df"))
          .agg(concat_ws(",",
            transform(sort_array(collect_list(col("doc_id"))),
              d => d.cast("string"))).as("postings"))
          .orderBy(col("df").desc, col("token"))
      },
      Some("""WITH tok AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
             |  FROM documents),
             |f AS (
             |  SELECT token, doc_id FROM tok WHERE len(token) >= 3),
             |top AS (
             |  SELECT token, CAST(count(*) AS BIGINT) AS df
             |  FROM f GROUP BY 1 HAVING count(*) >= 300)
             |SELECT t.token, top.df,
             |  string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id) AS postings
             |FROM f t JOIN top ON t.token = top.token
             |GROUP BY t.token, top.df ORDER BY df DESC, t.token""".stripMargin)),

    // ---- array higher-order functions over embeddings: filter /
    // transform+aggregate (L1 norm) / argmax — all scan-shaped, no
    // shuffle, no UDF. Portability: the fold visits elements IN ARRAY
    // ORDER on both engines, so even float accumulation is
    // bit-identical; argmax is 1-based first-position on both ----
    QuerySpec("q113_array_hof",
      (s, dir) => {
        t(s, dir, "embeddings")
          .filter(col("vec_id") < 50)
          .select(col("vec_id"),
            size(filter(col("embedding"), x => x > 0f)).cast("long").as("n_pos"),
            aggregate(col("embedding"), lit(0.0),
              (acc, x) => acc + abs(x.cast("double"))).as("l1"),
            array_position(col("embedding"), array_max(col("embedding")))
              .as("argmax1"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
             |  CAST(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
             |    AS DOUBLE) AS l1,
             |  CAST(list_indexof(embedding, list_max(embedding)) AS BIGINT) AS argmax1
             |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin)),

    // ---- the capstone: the full curation chain COMPOSED in one plan —
    // quality floor → exact dedup (min-id keeper) → 5-gram benchmark
    // decontamination (broadcast anti-join) → per-source quota →
    // deterministic split stamp → per-(source, split) audit. Every
    // stage is an already-gated operator (q18/q05/q43/q39/q37); this
    // gate proves they compose without interference, and the id_sum
    // pins the exact surviving membership through all five stages.
    // Plan shape: stages chain scan-side until the dedup/quota
    // shuffles — no stage materializes an intermediate table ----
    QuerySpec("q116_curation_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") >= 20 &&
          col("n_chars") >= 200 && TextFunctions.tokenCount(col("text")) >= 40)
        val keepers = DedupFunctions.exactDedup(corpus, "text", "doc_id")
          .select(col("keeper_id").as("doc_id"))
        val deduped = corpus.join(keepers, Seq("doc_id"))
        // widened before the 5-gram + md5 pipeline (the query's
        // heaviest per-row work; single-task on a small-SF scan
        // otherwise — DedupFunctions.widen, identity at production
        // file counts). The disjoint doc_id branch filters still prune:
        // predicates push below the round-robin exchange.
        val sh = graft.functions.DedupFunctions
          .widen(docs.select(col("doc_id"), col("text")))
          .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
          .select(col("doc_id"),
            explode(TextFunctions.shinglesFromWords(col("w"), 5)).as("shg"))
          .select(col("doc_id"), graft.functions.Hashes.md5Long(col("shg")).as("h"))
        // NOT checkpointed despite two consumers: the branches filter to
        // DISJOINT doc_id ranges (bench < 20, probe >= 20), so per-branch
        // re-derivation with the filter pushed into each scan is cheaper
        // than materializing the full shingle set once (measured: a wash
        // at sf0.1 even on wall-clock, and checkpointing defeats pruning)
        val benchH = sh.filter(col("doc_id") < 20).select(col("h")).distinct()
        val contaminated = sh.filter(col("doc_id") >= 20)
          .join(broadcast(benchH), Seq("h")).select(col("doc_id")).distinct()
        val decon = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        val quota = SamplingFunctions.quotaPerGroup(decon, col("source"),
          col("n_chars").desc, col("doc_id").asc, n = 50)
        quota.select(col("source"), col("doc_id"),
            SamplingFunctions.splitColumn(col("doc_id"), trainPct = 80, valPct = 10)
              .as("split"))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .orderBy(col("source"), col("split"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text, source, n_chars FROM documents
             |  WHERE doc_id >= 20 AND n_chars >= 200
             |    AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 40),
             |keep AS (
             |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
             |dedup AS (SELECT c.* FROM corpus c JOIN keep USING (doc_id)),
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(w) - 4),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shg
             |  FROM w WHERE len(w) >= 5),
             |h AS (SELECT doc_id,
             |  CAST('0x' || substr(md5(shg), 1, 15) AS BIGINT) AS h FROM sh),
             |benchh AS (SELECT DISTINCT h FROM h WHERE doc_id < 20),
             |contam AS (
             |  SELECT DISTINCT doc_id FROM h
             |  WHERE doc_id >= 20 AND h IN (SELECT h FROM benchh)),
             |decon AS (
             |  SELECT * FROM dedup
             |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
             |q AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM decon),
             |sp AS (
             |  SELECT source, doc_id,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT source, doc_id,
             |      CAST('0x' || substr(md5('split:' || doc_id), 1, 15) AS BIGINT) % 100 AS b
             |    FROM q WHERE rk <= 50))
             |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM sp GROUP BY 1, 2 ORDER BY source, split""".stripMargin)),

    // ---- distinct-count sketch, sparse-exact regime: per-source
    // vocabulary via HyperLogLog whose sparse mode (≤ 16384 hashes)
    // still holds the exact hash set — the estimate is a true
    // COUNT(DISTINCT) at gate scale, hash-matched here; the dense
    // regime's 3σ envelope and partitioning-invariance live in
    // DistinctSketchSpec. Hashing is the codegen'd xxhash64 riding
    // the scan; the aggregator shuffles register arrays, never
    // tokens — the 100 TB shape for "distinct URLs/users/shingles
    // per slice" ----
    QuerySpec("q121_distinct_sketch",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(
          graft.functions.DistinctSketch.sketch(
            xxhash64(col("token")), p = 12, sparseMax = 16384).as("vocab"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("source")),
      Some("""SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS vocab,
             |  CAST(count(*) AS BIGINT) AS n_tokens
             |FROM (SELECT source,
             |        unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |      FROM documents)
             |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- HTML → visible-text extraction: the stage-zero op of every
    // web-crawl curation pipeline. The HTML corpus is synthesized
    // in-plan from `documents` (same construction in both engines —
    // the plantedDupCorpus pattern), exercising comment/script/style
    // removal, tag stripping, entity decode order (&amp; last), and
    // whitespace collapse; link-density components gate as exact
    // integers. Everything is a codegen'd regexp/replace chain riding
    // the scan — no shuffle until the final orderBy, which only the
    // gate needs ----
    QuerySpec("q122_html_extract",
      (s, dir) => {
        val html = concat(
          lit("<!DOCTYPE html><html><head><style>p{margin:0; x<y}</style>"),
          lit("<script type=\"text/javascript\">if (a<b && c>d) {alert(\"x&y\");}</script></head>"),
          lit("<body><h1 class=\"title\">Doc "), col("doc_id").cast("string"),
          lit("</h1><!-- hidden "), col("doc_id").cast("string"), lit(" <b>note</b> -->"),
          lit("<p>"), substring(col("text"), 1, 200),
          lit(" &amp; more &lt;i&gt;stuff&lt;/i&gt; &quot;q&quot; &#39;s&#39;&nbsp;done</p>"),
          lit("<ul><li>a</li> <li>b</li></ul>"),
          lit("<a href=\"/d/"), col("doc_id").cast("string"),
          lit("\">link "), col("doc_id").cast("string"),
          lit("</a> tail</body></html>"))
        t(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            TextFunctions.stripHtml(col("html")).as("visible"),
            TextFunctions.anchorChars(col("html")).as("link_chars"),
            TextFunctions.anchorCount(col("html")).as("n_anchors"))
          .select(col("doc_id"),
            length(col("visible")).cast("int").as("n_visible"),
            md5(col("visible").cast("binary")).as("h_visible"),
            col("link_chars"), col("n_anchors"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    '<!DOCTYPE html><html><head><style>p{margin:0; x<y}</style>'
             |    || '<script type="text/javascript">if (a<b && c>d) {alert("x&y");}</script></head>'
             |    || '<body><h1 class="title">Doc ' || doc_id
             |    || '</h1><!-- hidden ' || doc_id || ' <b>note</b> -->'
             |    || '<p>' || substr(text, 1, 200)
             |    || ' &amp; more &lt;i&gt;stuff&lt;/i&gt; &quot;q&quot; &#39;s&#39;&nbsp;done</p>'
             |    || '<ul><li>a</li> <li>b</li></ul>'
             |    || '<a href="/d/' || doc_id || '">link ' || doc_id
             |    || '</a> tail</body></html>' AS html
             |  FROM documents),
             |v AS (
             |  SELECT doc_id, html,
             |    trim(regexp_replace(
             |      replace(replace(replace(replace(replace(replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(
             |              regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
             |              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |          '<[^>]*>', ' ', 'g'),
             |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             |        '&nbsp;', ' '), '&amp;', '&'),
             |      '[ \t\r\n]+', ' ', 'g')) AS visible
             |  FROM h)
             |SELECT doc_id, CAST(length(visible) AS INT) AS n_visible,
             |  md5(visible) AS h_visible,
             |  CAST(coalesce(list_sum(list_transform(
             |    regexp_extract_all(html, '(?is)<a[^>]*>(.*?)</a>', 1),
             |    x -> length(x))), 0) AS BIGINT) AS link_chars,
             |  CAST(len(regexp_extract_all(html, '(?is)<a[^>]*>(.*?)</a>', 1))
             |    AS BIGINT) AS n_anchors
             |FROM v ORDER BY doc_id""".stripMargin)),

    // ---- sketch-as-a-value lifecycle: per-source 3-shingle vocabulary
    // sketch STATES, pairwise source overlap by inclusion–exclusion
    // over merged states. This is the 100 TB shape for "how much do
    // sources share": each source folds to ONE stored state row (the
    // corpus is scanned once), and all 190 pairwise unions merge those
    // 20 state rows — no shingle ever shuffles twice. Sparse-exact
    // regime ⇒ every estimate IS the true distinct count, so the gate
    // hash-matches exact SQL; the dense regime's error envelope lives
    // in DistinctSketchSpec ----
    QuerySpec("q125_sketch_overlap",
      (s, dir) => {
        // widened before the shingle explode: the single-row-group
        // small-SF scan otherwise runs the whole shingle+hash+sketch
        // partial-agg pipeline in one task (DedupFunctions.widen —
        // identity at production file counts)
        val sh = graft.functions.DedupFunctions
          .widen(t(s, dir, "documents").select(col("source"), col("text")))
          .select(col("source"), TextFunctions.words(col("text")).as("w"))
          .select(col("source"),
            explode(TextFunctions.shinglesFromWords(col("w"), 3)).as("sh"))
          .select(col("source"), xxhash64(col("sh")).as("h"))
        // 20 rows, three plan branches. SitePin (bounded, releasable):
        // lazy-shared like cache WITHOUT the
        // per-call leak the q151 rule forbids — the eager
        // localCheckpoint this replaces paid an up-front job boundary
        // per call (the r13 q125/q145 regression), and truncated
        // lineage (executor-loss job-killer at cluster scale)
        val states = graft.operators.Materialize.SitePin("q125.states")(
          sh.groupBy(col("source"))
            .agg(graft.functions.DistinctSketch.sketchState(col("h")).as("st")))
        val ests = states.groupBy(col("source"))
          .agg(graft.functions.DistinctSketch.mergeEstimate(col("st")).as("est"))
        val unions = states.select(col("source").as("sa"), col("st").as("sta"))
          .join(states.select(col("source").as("sb"), col("st").as("stb")),
            col("sa") < col("sb"))
          .select(col("sa"), col("sb"),
            explode(array(col("sta"), col("stb"))).as("st"))
          .groupBy(col("sa"), col("sb"))
          .agg(graft.functions.DistinctSketch.mergeEstimate(col("st"))
            .as("est_union"))
        unions
          .join(ests.select(col("source").as("sa"), col("est").as("est_a")), Seq("sa"))
          .join(ests.select(col("source").as("sb"), col("est").as("est_b")), Seq("sb"))
          .select(col("sa"), col("sb"), col("est_a"), col("est_b"),
            col("est_union"),
            (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"))
          .orderBy(col("sa"), col("sb"))
      },
      Some("""WITH w AS (
             |  SELECT source, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT source, unnest(list_transform(
             |    generate_series(1, greatest(len(w) - 2, 0)),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
             |  FROM w),
             |d AS (SELECT source, count(DISTINCT sh) AS n FROM sh GROUP BY source),
             |p AS (SELECT a.source AS sa, b.source AS sb, a.n AS est_a, b.n AS est_b
             |      FROM d a JOIN d b ON a.source < b.source),
             |u AS (SELECT p.sa, p.sb, count(DISTINCT s.sh) AS est_union
             |      FROM p JOIN sh s ON s.source = p.sa OR s.source = p.sb
             |      GROUP BY p.sa, p.sb)
             |SELECT p.sa, p.sb, CAST(p.est_a AS BIGINT) AS est_a,
             |  CAST(p.est_b AS BIGINT) AS est_b,
             |  CAST(u.est_union AS BIGINT) AS est_union,
             |  CAST(p.est_a + p.est_b - u.est_union AS BIGINT) AS est_overlap
             |FROM p JOIN u ON p.sa = u.sa AND p.sb = u.sb
             |ORDER BY p.sa, p.sb""".stripMargin)),

    // ---- exact duplicated-span detection (suffix-array substring
    // dedup, distributed): runs of consecutive 5-gram positions shared
    // across ≥2 docs, condensed per-doc by gaps-and-islands. Planted
    // clones (every 7th doc re-appears truncated to 300 chars, derived
    // in-plan) guarantee known spans; the gate pins every span's exact
    // word boundaries. Scale shape: one gram shuffle for df, one join
    // back, one doc-bounded window — no suffix array, no driver state ----
    QuerySpec("q126_duplicate_spans",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val corpus = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(7)) === 0)
            .select((col("doc_id") + 100000L).as("doc_id"),
              substring(col("text"), 1, 300).as("text")))
        DedupFunctions.duplicateSpans(corpus, "doc_id", "text",
            k = 5, minDocs = 2, minRun = 3)
          .orderBy(col("doc_id"), col("start_pos"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |corpus AS (SELECT doc_id, text FROM base
             |           UNION ALL
             |           SELECT doc_id + 100000, substr(text, 1, 300)
             |           FROM base WHERE doc_id % 7 = 0),
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
             |g AS (SELECT doc_id, unnest(list_transform(
             |        generate_series(1, greatest(len(w)-4, 0)),
             |        i -> {'pos': i, 'gram': w[i]||' '||w[i+1]||' '||w[i+2]
             |              ||' '||w[i+3]||' '||w[i+4]})) AS e
             |      FROM w),
             |g2 AS (SELECT doc_id, e.pos AS pos, e.gram AS gram FROM g),
             |d AS (SELECT gram FROM g2
             |      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |dup AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN d USING (gram)),
             |r AS (SELECT doc_id, pos,
             |        pos - row_number() OVER (
             |          PARTITION BY doc_id ORDER BY pos) AS grp
             |      FROM dup)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
             |  CAST(max(pos) + 4 AS BIGINT) AS end_pos,
             |  CAST(count(*) AS BIGINT) AS n_grams
             |FROM r GROUP BY doc_id, grp HAVING count(*) >= 3
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- heavy-hitter state lifecycle (the frequency twin of
    // q125/q129): per-source Misra–Gries token maps STORED as state
    // rows, merged into the global sketch — q90's answer reproduced
    // from 20 state rows instead of a corpus rescan. Exact regime
    // (capacity ≥ vocabulary everywhere) so the mergeable-summaries
    // combine is hash-verified; the lossy regime's ±n/(c+1) bounds
    // live in HeavyHittersSpec ----
    QuerySpec("q130_heavyhitter_states",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(HeavyHitters.sketch(col("token"), 4096).as("m"))
        .agg(HeavyHitters.mergeSketches(col("m"), 4096).as("m"))
        .select(explode(col("m")).as(Seq("token", "n_occ")))
        .orderBy(col("token")),
      Some("""SELECT token, CAST(count(*) AS BIGINT) AS n_occ
             |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |      FROM documents)
             |GROUP BY 1 ORDER BY token""".stripMargin)),

    // ---- duplicated-span SCRUB (the removal action of q126's
    // detection — Lee et al.'s policy distributed): spans grouped by
    // exact content, earliest doc keeps its copy, all other
    // occurrences cut word-wise. Same planted corpus as q126, so
    // every clone's prefix is scrubbed while each original keeps its
    // text; the gate pins word counts AND the md5 of every scrubbed
    // document (fully-covered docs scrub to the empty string — kept,
    // not dropped). Interval lists are per-doc and tiny: the position
    // filter is row-local work inside the scan stage ----
    QuerySpec("q132_span_scrub",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val corpus = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(7)) === 0)
            .select((col("doc_id") + 100000L).as("doc_id"),
              substring(col("text"), 1, 300).as("text")))
        DedupFunctions.scrubDuplicateSpans(corpus, "doc_id", "text",
            k = 5, minDocs = 2, minRun = 3)
          .select(col("doc_id"), col("n_words"), col("n_removed"),
            md5(col("clean").cast("binary")).as("h_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |corpus AS (SELECT doc_id, text FROM base
             |           UNION ALL
             |           SELECT doc_id + 100000, substr(text, 1, 300)
             |           FROM base WHERE doc_id % 7 = 0),
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
             |g AS (SELECT doc_id, unnest(list_transform(
             |        generate_series(1, greatest(len(w)-4, 0)),
             |        i -> {'pos': i, 'gram': w[i]||' '||w[i+1]||' '||w[i+2]
             |              ||' '||w[i+3]||' '||w[i+4]})) AS e
             |      FROM w),
             |g2 AS (SELECT doc_id, e.pos AS pos, e.gram AS gram FROM g),
             |d AS (SELECT gram FROM g2
             |      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |dup AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN d USING (gram)),
             |r AS (SELECT doc_id, pos,
             |        pos - row_number() OVER (
             |          PARTITION BY doc_id ORDER BY pos) AS grp
             |      FROM dup),
             |sp AS (SELECT doc_id, min(pos) AS start_pos,
             |         max(pos) + 4 AS end_pos
             |       FROM r GROUP BY doc_id, grp HAVING count(*) >= 3),
             |ct AS (SELECT s.doc_id, s.start_pos, s.end_pos,
             |         md5(array_to_string(w.w[s.start_pos:s.end_pos], ' '))
             |           AS ch
             |       FROM sp s JOIN w ON s.doc_id = w.doc_id),
             |kp AS (SELECT ch, min(doc_id) AS keep FROM ct GROUP BY ch),
             |rm AS (SELECT ct.doc_id, ct.start_pos AS s, ct.end_pos AS e
             |       FROM ct JOIN kp ON ct.ch = kp.ch
             |       WHERE ct.doc_id <> kp.keep),
             |riv AS (SELECT doc_id, list({'s': s, 'e': e}) AS iv
             |        FROM rm GROUP BY doc_id),
             |cl AS (
             |  SELECT w.doc_id, len(w.w) AS n_words,
             |    list_filter(list_transform(generate_series(1, len(w.w)),
             |        i -> {'p': i, 't': w.w[i]}),
             |      x -> len(list_filter(coalesce(riv.iv, []),
             |        v -> x.p >= v.s AND x.p <= v.e)) = 0) AS kept
             |  FROM w LEFT JOIN riv ON w.doc_id = riv.doc_id)
             |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             |  CAST(n_words - len(kept) AS BIGINT) AS n_removed,
             |  md5(coalesce(array_to_string(list_transform(kept, x -> x.t),
             |    ' '), '')) AS h_clean
             |FROM cl ORDER BY doc_id""".stripMargin)),

    // ---- per-source corpus profile (the "dataset card" table): doc
    // and token volumes, exact rank-pick median length, short-doc and
    // language counts, vocabulary — two corpus passes (doc rollup +
    // vocabulary fold; the token array materializes once per doc
    // within each), joined at control-plane size. All integers; vocab is sparse-exact at gate
    // scale, a 1.6%-bounded estimate past it — the honest 100 TB
    // number ----
    QuerySpec("q133_corpus_profile",
      (s, dir) => graft.functions.CorpusProfile.profile(
          t(s, dir, "documents"), col("source"), col("text"), LangMarkers)
        .withColumnRenamed("slice", "source")
        .orderBy(col("source")),
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id, source, len(toks) AS ntok,
             |        list_distinct(toks) AS tk FROM d),
             |sc AS (SELECT doc_id, source, ntok,
             |        len(list_intersect(tk, ['the','a','value'])) AS s_en,
             |        len(list_intersect(tk, ['table','key'])) AS s_de,
             |        len(list_intersect(tk, ['query','group'])) AS s_fr,
             |        len(list_intersect(tk, ['fast','slow'])) AS s_es,
             |        len(list_intersect(tk, ['stream','row'])) AS s_zh
             |      FROM m),
             |r AS (SELECT source, ntok,
             |        CASE WHEN s_en > 0
             |          AND s_en >= greatest(s_de, s_fr, s_es, s_zh)
             |          THEN 1 ELSE 0 END AS is_en,
             |        row_number() OVER (
             |          PARTITION BY source ORDER BY ntok) AS rk,
             |        count(*) OVER (PARTITION BY source) AS n
             |      FROM sc),
             |ds AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |        CAST(sum(ntok) AS BIGINT) AS n_tokens,
             |        CAST(max(CASE WHEN rk = (n + 1) // 2 THEN ntok END)
             |          AS BIGINT) AS med_tokens,
             |        CAST(sum(CASE WHEN ntok < 20 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_short,
             |        CAST(sum(is_en) AS BIGINT) AS n_en
             |      FROM r GROUP BY source),
             |v AS (SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS vocab
             |      FROM (SELECT source, unnest(toks) AS t FROM d)
             |      GROUP BY source)
             |SELECT ds.*, v.vocab FROM ds JOIN v ON ds.source = v.source
             |ORDER BY ds.source""".stripMargin)),

    // ---- leakage-safe split assignment: train/val/test must be a
    // function of CONTENT, not row identity — otherwise duplicates
    // leak across the split boundary and eval is contaminated. Split
    // hashes the normalization fingerprint, so every member of a
    // duplicate cluster co-assigns by construction (planted +100000
    // clones with identical text prove it: id_sum pins EVERY
    // assignment, n_clusters counts each content once). The near-dup
    // form (cluster representative from dupClusters → splitColumn)
    // is spec-anchored in SamplingSpec ----
    QuerySpec("q134_leakage_safe_split",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(9)) === 0)
            .withColumn("doc_id", col("doc_id") + 100000L))
        corpus
          .select(col("doc_id"), col("lang"),
            TextFunctions.fingerprint(col("text")).as("fp"))
          .select(col("doc_id"), col("fp"),
            SamplingFunctions.splitColumn(col("fp"), trainPct = 80,
              valPct = 10).as("split"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("fp")).as("n_clusters"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy(col("split"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents
             |  WHERE doc_id % 9 = 0),
             |f AS (SELECT doc_id,
             |        md5(array_to_string(
             |          regexp_extract_all(lower(text), '[a-z0-9]+'), ' '))
             |          AS fp
             |      FROM corpus),
             |s AS (SELECT doc_id, fp,
             |        CAST('0x' || substr(md5('split:' || fp), 1, 15)
             |          AS BIGINT) % 100 AS b
             |      FROM f)
             |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |            ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM s GROUP BY 1 ORDER BY split""".stripMargin)),

    // ---- hard-negative mining for contrastive training: for each
    // query embedding, the top-3 most-similar corpus items with a
    // DIFFERENT label — the boundary-adjacent negatives that teach the
    // margin. Same twinned-oracle anchor as q22 (queries broadcast,
    // corpus never shuffles, label mismatch in the JOIN condition);
    // the scale path re-ranks IVF/SRP candidates with the same scorer ----
    QuerySpec("q137_hard_negatives",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        graft.functions.VectorFunctions.hardNegatives(
            e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
            "label", k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id < 10),
             |sc AS (
             |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |    e.label AS neighbor_label,
             |    list_cosine_similarity(q.v, e.v) AS sim
             |  FROM q CROSS JOIN e
             |  WHERE e.vec_id != q.vec_id
             |    AND e.label IS DISTINCT FROM q.label),
             |r AS (
             |  SELECT query_id, neighbor_id, neighbor_label,
             |    row_number() OVER (
             |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
             |      AS rank
             |  FROM sc)
             |SELECT query_id, rank, neighbor_id, neighbor_label
             |FROM r WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- Cavnar–Trenkle n-gram language id (SDAIR '94) — the
    // profile-based classifier real pipelines use where q24's marker
    // heuristic is too coarse: char-trigram profiles (top-100, rank by
    // count desc / gram asc) train on the labeled even-id half;
    // odd-id docs classify by out-of-place distance (missing gram =
    // 100) with language-ascending argmin tie-break. Gate pins the
    // full confusion matrix + id_sum — every individual prediction,
    // deterministically, on ANY data (the synthetic lang labels are
    // content-independent, so accuracy is chance; determinism is the
    // contract). Profiles are control-plane tables (cached: two
    // consumers); the doc×lang distance grid is M×|langs| per doc ----
    QuerySpec("q145_lang_profile",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val seed = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val ev = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        // control-plane table, two consumers. SitePin (bounded,
        // releasable): the lazy-shared cache shape
        // without the per-call leak (q151 rule) — keeps the train
        // pipeline fused into the first consumer's job, no up-front
        // job boundary, and lineage KEPT (the lazy-localCheckpoint
        // form this replaces finalized a lineage-truncating checkpoint
        // after the first job — the r13 q145 2.6→3.7 s regression)
        val profiles = graft.operators.Materialize.SitePin("q145.profiles")(
          graft.functions.LangProfile
            .trainProfiles(seed, col("lang"), col("text"), k = 100))
        graft.functions.LangProfile
          .classify(ev, "doc_id", col("text"), profiles, k = 100, m = 20)
          .join(ev.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .orderBy(col("lang"), col("pred"))
      },
      Some("""WITH seed AS (SELECT lang,
             |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
             |      AS n
             |  FROM documents WHERE doc_id % 2 = 0),
             |tg AS (SELECT lang, unnest(list_transform(
             |         generate_series(1, greatest(len(n)-2, 0)),
             |         i -> substr(n, i, 3))) AS gram FROM seed),
             |pc AS (SELECT lang, gram, count(*) AS cnt FROM tg GROUP BY 1, 2),
             |prof AS (SELECT lang, gram, CAST(rank AS BIGINT) AS rank FROM (
             |           SELECT lang, gram, cnt, row_number() OVER (
             |             PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
             |           FROM pc)
             |         WHERE rank <= 100),
             |ev AS (SELECT doc_id, lang AS true_lang,
             |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
             |           'g')) AS n
             |       FROM documents WHERE doc_id % 2 = 1),
             |eg AS (SELECT doc_id, unnest(list_transform(
             |         generate_series(1, greatest(len(n)-2, 0)),
             |         i -> substr(n, i, 3))) AS gram FROM ev),
             |dc AS (SELECT doc_id, gram, count(*) AS cnt
             |       FROM eg GROUP BY 1, 2),
             |dt AS (SELECT doc_id, gram, CAST(drank AS BIGINT) AS drank
             |       FROM (SELECT doc_id, gram, cnt, row_number() OVER (
             |               PARTITION BY doc_id ORDER BY cnt DESC, gram)
             |               AS drank FROM dc)
             |       WHERE drank <= 20),
             |ls AS (SELECT DISTINCT lang FROM prof),
             |dist AS (SELECT dt.doc_id, ls.lang,
             |           CAST(sum(coalesce(abs(dt.drank - p.rank), 100))
             |             AS BIGINT) AS dist
             |         FROM dt CROSS JOIN ls
             |         LEFT JOIN prof p
             |           ON p.lang = ls.lang AND p.gram = dt.gram
             |         GROUP BY dt.doc_id, ls.lang),
             |pred AS (SELECT doc_id, lang AS pred FROM (
             |           SELECT doc_id, lang, row_number() OVER (
             |             PARTITION BY doc_id ORDER BY dist, lang) AS rn
             |           FROM dist) WHERE rn = 1)
             |SELECT e.true_lang AS lang, p.pred,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(e.doc_id) AS BIGINT) AS id_sum
             |FROM pred p JOIN ev e ON p.doc_id = e.doc_id
             |GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin)),

    // ---- vocabulary growth curve (Heaps' law points): per source the
    // distinct-token count after the first 10/25/50 docs in id order —
    // the diversity-saturation diagnostic (a source whose curve goes
    // flat early is template spam however many docs it ships; pairs
    // with q141's Gini). Exact integers: each token maps to its FIRST
    // containing doc's rank (min over one groupBy), then the curve is
    // a conditional count — no running distinct, no window over
    // tokens ----
    QuerySpec("q146_vocab_growth",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ranks = docs.select(col("source"), col("doc_id"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("source")).orderBy(col("doc_id"))))
        val first = docs
          .select(col("source"), col("doc_id"),
            explode(array_distinct(TextFunctions.tokens(col("text"))))
              .as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(min(col("doc_id")).as("doc_id"))
        first.join(ranks, Seq("source", "doc_id"))
          .groupBy(col("source"))
          .agg(
            sum(when(col("rk") <= 10, 1L).otherwise(0L)).as("v10"),
            sum(when(col("rk") <= 25, 1L).otherwise(0L)).as("v25"),
            sum(when(col("rk") <= 50, 1L).otherwise(0L)).as("v50"),
            count(lit(1)).as("v_all"))
          .orderBy(col("source"))
      },
      Some("""WITH ranks AS (
             |  SELECT source, doc_id, row_number() OVER (
             |    PARTITION BY source ORDER BY doc_id) AS rk
             |  FROM documents),
             |tok AS (SELECT source, doc_id, unnest(list_distinct(
             |          regexp_extract_all(lower(text), '[a-z0-9]+')))
             |          AS tok
             |        FROM documents),
             |first AS (SELECT source, tok, min(doc_id) AS doc_id
             |          FROM tok GROUP BY source, tok)
             |SELECT f.source,
             |  CAST(sum(CASE WHEN r.rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS v10,
             |  CAST(sum(CASE WHEN r.rk <= 25 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS v25,
             |  CAST(sum(CASE WHEN r.rk <= 50 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS v50,
             |  CAST(count(*) AS BIGINT) AS v_all
             |FROM first f JOIN ranks r
             |  ON f.source = r.source AND f.doc_id = r.doc_id
             |GROUP BY f.source ORDER BY f.source""".stripMargin)),

    // ---- incremental dedup against a FROZEN corpus band index: the
    // production shape of q20/q31 for continuous ingestion (the
    // restartable batch twin of streaming.StreamingNearDup). The old
    // slice's bands persist to parquet; the new slice (incl. planted
    // exact clones of OLD docs at +10M ids — cross-slice dups MUST be
    // caught) is shingled/hashed once and joins the stored index on
    // (band, band_key) — the accepted corpus's text is never re-read
    // (plan-pinned in PlanShapeSpec: the second job's scans are the
    // index parquet + the new slice only). Oracle mirrors the q20
    // pipeline with per-slice build caps ----
    QuerySpec("q147_incremental_dedup",
      (s, dir) => {
        // the two halves are the Bench split-ladder's rungs — one
        // source of truth, so the measured incremental exponent is the
        // exact serving code (the q174/q175 ladderGap discipline)
        q147LadderBuild(s, dir)
        q147LadderIncr(s, dir).orderBy(col("d1"), col("d2"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text, 0 AS is_new FROM documents
             |  WHERE doc_id % 3 <> 0
             |  UNION ALL
             |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, text, 1 FROM documents
             |  WHERE doc_id % 60 = 1),
             |w AS (SELECT doc_id, is_new, string_split(text, ' ') AS w
             |      FROM corpus),
             |sh AS (SELECT doc_id, is_new, list_distinct(list_transform(
             |         generate_series(1, len(w) - 2),
             |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |       FROM w WHERE len(w) >= 3),
             |hs AS (SELECT doc_id, is_new, list_transform(s, tk ->
             |         CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
             |           & 1073741823) AS hs
             |       FROM sh),
             |sig AS (SELECT doc_id, is_new,
             |          list_transform(generate_series(0, 11), i ->
             |            list_min(list_transform(hs, h ->
             |              ((1000003*i + 12289) * h + (7919*i + 104729))
             |                % 2147483647))) AS sig
             |        FROM hs),
             |bands AS (SELECT doc_id, is_new, bb AS band,
             |            sig[2*bb + 1]::VARCHAR || '_' ||
             |              sig[2*bb + 2]::VARCHAR AS band_key
             |          FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |oldk AS (SELECT * FROM (
             |           SELECT b.*, count(*) OVER (
             |             PARTITION BY band, band_key) AS n
             |           FROM bands b WHERE is_new = 0) WHERE n <= 1000),
             |newk AS (SELECT * FROM (
             |           SELECT b.*, count(*) OVER (
             |             PARTITION BY band, band_key) AS n
             |           FROM bands b WHERE is_new = 1) WHERE n <= 1000),
             |op AS (SELECT least(n.doc_id, o.doc_id) AS d1,
             |         greatest(n.doc_id, o.doc_id) AS d2
             |       FROM newk n JOIN oldk o USING (band, band_key)
             |       WHERE n.doc_id <> o.doc_id),
             |np AS (SELECT x.doc_id AS d1, y.doc_id AS d2
             |       FROM newk x JOIN newk y
             |         ON x.band = y.band AND x.band_key = y.band_key
             |        AND y.doc_id > x.doc_id)
             |SELECT DISTINCT CAST(d1 AS BIGINT) AS d1,
             |  CAST(d2 AS BIGINT) AS d2
             |FROM (SELECT * FROM op UNION ALL SELECT * FROM np)
             |ORDER BY d1, d2""".stripMargin)),

    // ---- MinHash similarity ESTIMATES — the verify half that
    // completes the LSH pipeline (q20 stops at candidates; real dedup
    // thresholds them): est(J) = agree/k with `agree` the EXACT
    // integer count of matching signature positions, gated at
    // agree >= 6 (est >= 0.5 at k = 12) — integer-rational threshold,
    // never a double compare. Signatures materialize once and feed
    // banding + both estimate-join sides; full shingle sets never
    // shuffle (the q19 exact join intersects sets; this path carries
    // 12 longs per doc) ----
    QuerySpec("q149_minhash_estimate",
      (s, dir) => DedupFunctions.minhashEstimates(
          t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, k = 12, r = 2, portable = true, minAgree = 6)
        .orderBy(col("d1"), col("d2")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             |           FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(w) - 2),
             |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |       FROM w WHERE len(w) >= 3),
             |hs AS (SELECT doc_id, list_transform(s, tk ->
             |         CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
             |           & 1073741823) AS hs
             |       FROM sh),
             |sig AS (SELECT doc_id,
             |          list_transform(generate_series(0, 11), i ->
             |            list_min(list_transform(hs, h ->
             |              ((1000003*i + 12289) * h + (7919*i + 104729))
             |                % 2147483647))) AS sig
             |        FROM hs),
             |bands AS (SELECT doc_id, bb AS band,
             |            sig[2*bb + 1]::VARCHAR || '_' ||
             |              sig[2*bb + 2]::VARCHAR AS band_key
             |          FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |sized AS (SELECT band, band_key, count(*) AS n
             |          FROM bands GROUP BY 1, 2),
             |kept AS (SELECT b.* FROM bands b
             |         JOIN sized s USING (band, band_key)
             |         WHERE s.n <= 1000),
             |pairs AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |          FROM kept x JOIN kept y
             |            ON x.band = y.band AND x.band_key = y.band_key
             |           AND y.doc_id > x.doc_id),
             |est AS (SELECT p.d1, p.d2,
             |          CAST(len(list_filter(generate_series(1, 12),
             |            i -> s1.sig[i] = s2.sig[i])) AS BIGINT) AS agree
             |        FROM pairs p
             |        JOIN sig s1 ON s1.doc_id = p.d1
             |        JOIN sig s2 ON s2.doc_id = p.d2)
             |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
             |  agree
             |FROM est WHERE agree >= 6 ORDER BY d1, d2""".stripMargin)),

    // ---- PII redaction gate: the scrub action + audit counts over a
    // corpus with PLANTED PII (the synthetic docs carry none, so the
    // plant — emails / dotted quads / phone-ish runs keyed off doc_id
    // — is constructed identically in both engines; q122's in-plan
    // synthesis precedent). Patterns are the RE2/Java-portable forms
    // from TextFunctions (EmailPattern/Ipv4Pattern/PhonePattern);
    // counts are exact integers and the redacted text is pinned by
    // md5. Pure regexp chain riding the scan — no shuffle before the
    // gate's sort ----
    QuerySpec("q150_pii_redact",
      (s, dir) => {
        val planted = t(s, dir, "documents")
          .withColumn("t2", concat(col("text"),
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(lit(" contact agent"), col("doc_id"),
                lit("@mail.example.com now"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11)) === 3,
              concat(lit(" call 555-01"), pmod(col("doc_id"), lit(100)),
                lit("-4242 today"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(13)) === 5,
              concat(lit(" host 10.0."), pmod(col("doc_id"), lit(250)),
                lit(".17 up"))).otherwise(lit(""))))
        planted
          .select(col("doc_id"),
            TextFunctions.piiCounts(col("t2")).as("c"),
            md5(TextFunctions.redactPii(col("t2"))).as("redacted_md5"))
          .select(col("doc_id"), col("c.n_email").cast("long").as("n_email"),
            col("c.n_ip").cast("long").as("n_ip"),
            col("c.n_phone").cast("long").as("n_phone"),
            col("redacted_md5"))
          .filter(col("n_email") + col("n_ip") + col("n_phone") > 0)
          .orderBy(col("doc_id"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, text ||
             |    CASE WHEN doc_id % 7 = 0 THEN ' contact agent' ||
             |      doc_id || '@mail.example.com now' ELSE '' END ||
             |    CASE WHEN doc_id % 11 = 3 THEN ' call 555-01' ||
             |      (doc_id % 100) || '-4242 today' ELSE '' END ||
             |    CASE WHEN doc_id % 13 = 5 THEN ' host 10.0.' ||
             |      (doc_id % 250) || '.17 up' ELSE '' END AS t2
             |  FROM documents),
             |x AS (SELECT doc_id,
             |  CAST(len(regexp_extract_all(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |    AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(t2,
             |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
             |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             |    'g'), '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             |    '\+?[0-9][0-9()\-. ]{5,}[0-9]')) AS BIGINT) AS n_phone,
             |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             |    'g'), '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             |    '\+?[0-9][0-9()\-. ]{5,}[0-9]', '<PHONE>', 'g'))
             |    AS redacted_md5
             |FROM planted)
             |SELECT doc_id, n_email, n_ip, n_phone, redacted_md5
             |FROM x WHERE n_email + n_ip + n_phone > 0
             |ORDER BY doc_id""".stripMargin)),

    // ---- Cohen's kappa: chance-corrected agreement between the
    // marker-based language prediction (q24's classifier) and the
    // stored label — the classifier-evaluation statistic accuracy
    // alone misstates under skewed label marginals. Exact-integer
    // form: with N docs, D = Σ diagonal counts, P = Σ_k row_k·col_k,
    //   κ = (N·D − P) / (N² − P)
    // — three integer aggregates, ONE final divide of exact operands
    // (the q131/q141 discipline). The marginal product joins at
    // label-set size (control plane); the corpus is touched once ----
    QuerySpec("q151_kappa",
      (s, dir) => {
        val pred = t(s, dir, "documents")
          .select(col("lang"),
            TextFunctions.langIdFromTokens(
              array_distinct(TextFunctions.tokens(col("text"))),
              LangMarkers).as("pred"))
        // eager materialization (NOT persist: a cache entry would leak
        // per call outside Bench/Verify's clearCache isolation); the
        // confusion matrix is label² rows and feeds three consumers
        val conf = pred.groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true)
        val totals = conf.agg(sum(col("n")).as("n_docs"),
          sum(when(col("lang") === col("pred"), col("n"))
            .otherwise(lit(0L))).as("diag"))
        // the STATISTIC's arithmetic runs in double space (exact below
        // 2^53, never overflows): the Long products rn·cn / N·diag /
        // N² overflow 2^63 at ~3e9-doc corpora — an ANSI abort by
        // default, silent num/den corruption under ansi=false. The
        // Long `rowcol` diagnostic rides try_* forms: exact while
        // int64-representable, NULL beyond — never an abort; a PER-ROW
        // rn·cn overflow poisons the fold to NULL (SUM would skip the
        // try_multiply NULL and report a wrong non-NULL partial sum),
        // and only the genuinely EMPTY fold coalesces to 0.
        val marg = conf.groupBy(col("lang").as("k"))
          .agg(sum(col("n")).as("rn"))
          .join(conf.groupBy(col("pred").as("k")).agg(sum(col("n")).as("cn")),
            Seq("k"))
          .agg({
            val term = try_multiply(col("rn"), col("cn"))
            when(sum(when(term.isNull, 1L).otherwise(0L)) > 0,
              lit(null).cast("long"))
              .when(count(lit(1)) === 0, lit(0L))
              .otherwise(try_sum(term)).as("rowcol")
          },
            coalesce(sum(col("rn").cast("double") * col("cn")), lit(0.0))
              .as("rowcold"))
        totals.crossJoin(broadcast(marg))
          .select(col("n_docs").cast("long").as("n_docs"),
            col("diag").cast("long").as("diag"),
            col("rowcol").cast("long").as("rowcol"), {
              val nd = col("n_docs").cast("double")
              val num = nd * col("diag") - col("rowcold")
              val den = nd * nd - col("rowcold")
              when(den === 0.0, lit(null).cast("double"))
                .otherwise(num / den)
                .as("kappa")
            })
      },
      Some("""WITH tk AS (
             |  SELECT lang,
             |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))
             |      AS tk
             |  FROM documents),
             |sc AS (
             |  SELECT lang,
             |    len(list_intersect(tk, ['the', 'a', 'value'])) AS s_en,
             |    len(list_intersect(tk, ['table', 'key'])) AS s_de,
             |    len(list_intersect(tk, ['query', 'group'])) AS s_fr,
             |    len(list_intersect(tk, ['fast', 'slow'])) AS s_es,
             |    len(list_intersect(tk, ['stream', 'row'])) AS s_zh
             |  FROM tk),
             |p AS (
             |  SELECT lang, CASE
             |    WHEN s_en > 0 AND s_en >= greatest(s_de, s_fr, s_es, s_zh)
             |      THEN 'en'
             |    WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_zh)
             |      THEN 'de'
             |    WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_de, s_es, s_zh)
             |      THEN 'fr'
             |    WHEN s_es > 0 AND s_es >= greatest(s_en, s_de, s_fr, s_zh)
             |      THEN 'es'
             |    WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_de, s_fr, s_es)
             |      THEN 'zh'
             |    ELSE 'und' END AS pred
             |  FROM sc),
             |conf AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
             |         FROM p GROUP BY 1, 2),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             |        CAST(sum(CASE WHEN lang = pred THEN n ELSE 0 END)
             |          AS BIGINT) AS diag
             |      FROM conf),
             |m AS (SELECT coalesce(CAST(sum(r.rn * c.cn) AS BIGINT), 0)
             |          AS rowcol
             |      FROM (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS rn
             |            FROM conf GROUP BY lang) r
             |      JOIN (SELECT pred AS k, CAST(sum(n) AS BIGINT) AS cn
             |            FROM conf GROUP BY pred) c USING (k))
             |SELECT t.n_docs, t.diag, m.rowcol,
             |  CASE WHEN t.n_docs * t.n_docs - m.rowcol = 0 THEN NULL
             |       ELSE CAST(t.n_docs * t.diag - m.rowcol AS DOUBLE) /
             |            CAST(t.n_docs * t.n_docs - m.rowcol AS DOUBLE)
             |  END AS kappa
             |FROM t, m""".stripMargin)),

    // ---- measured LSH recall: how many TRUE near-dup pairs (exact
    // n-gram Jaccard >= 0.8, the q19 PPJoin join) does the banded
    // MinHash candidate generator (q20's config) actually catch? The
    // dedup-quality scorecard run before trusting a banding config at
    // scale — recall here is a DETERMINISTIC integer pair
    // (n_true, n_caught) because both generators are deterministic,
    // plus an id_sum pin over the missed pairs so every individual
    // miss is identified, not just counted ----
    QuerySpec("q152_lsh_recall",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val exact = DedupFunctions
          .jaccardSimilarityJoin(docs, "doc_id", "text", 3, 0.8)
          .select(col("d1"), col("d2"))
        val cand = DedupFunctions
          .minhashCandidates(docs, "doc_id", "text",
            shingleN = 3, k = 12, r = 2, portable = true)
          .select(col("d1"), col("d2"), lit(1L).as("hit"))
        exact.join(cand, Seq("d1", "d2"), "left")
          .agg(count(lit(1)).as("n_true"),
            coalesce(sum(col("hit")), lit(0L)).as("n_caught"),
            coalesce(sum(when(col("hit").isNull, col("d1") + col("d2"))
              .otherwise(lit(0L))), lit(0L)).as("missed_id_sum"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             |           FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(w) - 2),
             |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |       FROM w WHERE len(w) >= 3),
             |ex AS (SELECT a.doc_id AS d1, b.doc_id AS d2
             |       FROM sh a JOIN sh b ON b.doc_id > a.doc_id
             |       WHERE len(a.s) + len(b.s)
             |           - len(list_intersect(a.s, b.s)) > 0
             |         AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
             |             (len(a.s) + len(b.s)
             |               - len(list_intersect(a.s, b.s))) >= 0.8),
             |hs AS (SELECT doc_id, list_transform(s, tk ->
             |         CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
             |           & 1073741823) AS hs
             |       FROM sh),
             |sig AS (SELECT doc_id,
             |          list_transform(generate_series(0, 11), i ->
             |            list_min(list_transform(hs, h ->
             |              ((1000003*i + 12289) * h + (7919*i + 104729))
             |                % 2147483647))) AS sig
             |        FROM hs),
             |bands AS (SELECT doc_id, bb AS band,
             |            sig[2*bb + 1]::VARCHAR || '_' ||
             |              sig[2*bb + 2]::VARCHAR AS band_key
             |          FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |sized AS (SELECT band, band_key, count(*) AS n
             |          FROM bands GROUP BY 1, 2),
             |kept AS (SELECT b.* FROM bands b
             |         JOIN sized sz USING (band, band_key)
             |         WHERE sz.n <= 1000),
             |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |         FROM kept x JOIN kept y
             |           ON x.band = y.band AND x.band_key = y.band_key
             |          AND y.doc_id > x.doc_id)
             |SELECT CAST(count(*) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_caught,
             |  coalesce(CAST(sum(CASE WHEN c.d1 IS NULL
             |    THEN ex.d1 + ex.d2 ELSE 0 END) AS BIGINT), 0)
             |    AS missed_id_sum
             |FROM ex LEFT JOIN cand c
             |  ON ex.d1 = c.d1 AND ex.d2 = c.d2""".stripMargin)),

    // ---- two-sample Kolmogorov–Smirnov drift per source: sup-norm
    // distance between each source's doc-length CDF and the
    // rest-of-corpus CDF — the distribution-drift detector that flags
    // a source whose length profile diverged (scraper change, spam
    // burst) where mean/median tests miss shape. EXACT integers:
    // KS·n_s·n_r = max over value points |C_s·n_r − (G−C_s)·n_s|
    // (C_s/G = cumulative source/global counts) — the final KS double
    // is one divide of exact operands, the q131/q141/q151 discipline.
    // Scale shape: ONE corpus shuffle folds docs to (source, len)
    // counts; the evaluation grid (|sources| × |distinct lens|) is
    // control-plane data — windows and the max fold run there ----
    QuerySpec("q153_ks_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the (source, value) fold is the ONE corpus pass — it is
        // referenced six times below (grid x2, per-source cum, global
        // cum, totals, per-source n), so it materializes eagerly;
        // without this Catalyst re-evaluates the corpus scan+shuffle
        // per reference. The relation is |sources x distinct values|
        // rows — control-plane data from here on.
        val cnt = docs.groupBy(col("source"), col("n_chars").as("v"))
          .agg(count(lit(1)).as("m"))
          .localCheckpoint(true)
        val grid = cnt.select(col("source")).distinct()
          .crossJoin(broadcast(cnt.select(col("v")).distinct()))
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("v"))
        val perSrc = grid.join(cnt, Seq("source", "v"), "left")
          .withColumn("cs", sum(coalesce(col("m"), lit(0L))).over(wS))
        val glob = cnt.groupBy(col("v")).agg(sum(col("m")).as("gm"))
          .withColumn("g", sum(col("gm")).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
          .select(col("v"), col("g"))
        val tot = cnt.agg(sum(col("m")).as("n_g"))
        val ns = cnt.groupBy(col("source")).agg(sum(col("m")).as("n_s"))
        perSrc.join(glob, Seq("v"))
          .join(ns, Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("num", abs(try_subtract(
            try_multiply(col("cs"), col("n_g") - col("n_s")),
            try_multiply(col("g") - col("cs"), col("n_s")))))
          // the KS statistic's numerator/denominator run in double
          // space (exact below 2^53): the Long forms cs·n_r and
          // n_s·n_r overflow 2^63 at ~3e9-doc corpora — an ANSI abort
          // by default, silent ks corruption under ansi=false. The
          // Long `ks_num` diagnostic rides try_* forms: exact while
          // int64-representable, NULL beyond — never an abort; a
          // per-row overflow poisons the MAX to NULL via TryAgg (MAX
          // would otherwise skip the overflowed row and report the
          // max of the rest — a wrong non-NULL supremum)
          .withColumn("numd", abs(
            col("cs").cast("double") * (col("n_g") - col("n_s")) -
              (col("g") - col("cs")).cast("double") * col("n_s")))
          .groupBy(col("source"))
          .agg(max(col("n_s")).as("n_s"),
            max(col("n_g") - col("n_s")).as("n_r"),
            graft.functions.TryAgg.tryMaxExact(col("num")).as("ks_num"),
            max(col("numd")).as("ks_numd"))
          .select(col("source"), col("n_s"), col("n_r"), col("ks_num"),
            when(col("n_s") === 0 || col("n_r") === 0,
              lit(null).cast("double"))
              .otherwise(col("ks_numd") /
                (col("n_s").cast("double") * col("n_r"))).as("ks"))
          .orderBy(col("source"))
      },
      Some("""WITH cnt AS (SELECT source, n_chars AS v,
             |               CAST(count(*) AS BIGINT) AS m
             |             FROM documents GROUP BY 1, 2),
             |grid AS (SELECT s.source, v.v
             |         FROM (SELECT DISTINCT source FROM cnt) s
             |         CROSS JOIN (SELECT DISTINCT v FROM cnt) v),
             |ps AS (SELECT g.source, g.v,
             |         CAST(sum(coalesce(c.m, 0)) OVER (
             |           PARTITION BY g.source ORDER BY g.v) AS BIGINT)
             |           AS cs
             |       FROM grid g LEFT JOIN cnt c
             |         ON c.source = g.source AND c.v = g.v),
             |gl AS (SELECT v, CAST(sum(gm) OVER (ORDER BY v) AS BIGINT)
             |           AS g
             |       FROM (SELECT v, CAST(sum(m) AS BIGINT) AS gm
             |             FROM cnt GROUP BY v)),
             |ns AS (SELECT source, CAST(sum(m) AS BIGINT) AS n_s
             |       FROM cnt GROUP BY source),
             |tot AS (SELECT CAST(sum(m) AS BIGINT) AS n_g FROM cnt),
             |sc AS (SELECT p.source, ns.n_s, tot.n_g - ns.n_s AS n_r,
             |         abs(p.cs * (tot.n_g - ns.n_s)
             |           - (gl.g - p.cs) * ns.n_s) AS num
             |       FROM ps p
             |       JOIN gl ON gl.v = p.v
             |       JOIN ns ON ns.source = p.source
             |       CROSS JOIN tot)
             |SELECT source, n_s, CAST(n_r AS BIGINT) AS n_r,
             |  CAST(max(num) AS BIGINT) AS ks_num,
             |  CASE WHEN n_s * n_r = 0 THEN NULL
             |       ELSE CAST(max(num) AS DOUBLE) /
             |            CAST(n_s * n_r AS DOUBLE) END AS ks
             |FROM sc GROUP BY source, n_s, n_r
             |ORDER BY source""".stripMargin)),

    // ---- the drift screen's batch twin, oracle-gated: the EXACT code
    // path StreamingProfile.drift serves from stored kilobyte states
    // (StreamingProfile.ladderGap — per-slice token-length quantile
    // ladders from QuantileSketch states, rel_gap = |h−b|/max(|h|,|b|))
    // run in the sketch's exact regime (k ≥ every group) over parquet
    // with a history/batch split, vs DuckDB order statistics at the
    // same ceil(q·n) rank convention (the q129 discipline). q153 gates
    // the KS math; THIS gates the serving path the streaming gate
    // actually runs. Scale shape: states fold map-side (one shuffle
    // per side over |slices| fixed-size buffers); the join is
    // |slices|-rows control-plane ----
    QuerySpec("q157_drift_gate",
      (s, dir) => {
        val k = 65536 // exact regime: >= any per-source group at test SFs
        val qs = Seq(0.25, 0.5, 0.75, 0.9)
        val docs = t(s, dir, "documents")
          .select(col("source").as("slice"), col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("double").as("v"))
        def states(side: org.apache.spark.sql.DataFrame) =
          side.groupBy(col("slice"))
            .agg(graft.functions.QuantileSketch.sketchState(col("v"), k)
              .as("len_st"))
        graft.streaming.StreamingProfile.ladderGap(
            states(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)),
            states(docs.filter(pmod(col("doc_id"), lit(3)) === 0)),
            k, qs)
          .orderBy(col("slice"), col("q"))
      },
      Some("""WITH t AS (
             |  SELECT source AS slice, doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
             |      AS BIGINT) AS v
             |  FROM documents),
             |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE)
             |         AS q),
             |h AS (
             |  SELECT slice, v,
             |    row_number() OVER (PARTITION BY slice ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY slice) AS n
             |  FROM t WHERE doc_id % 3 <> 0),
             |c AS (
             |  SELECT slice, v,
             |    row_number() OVER (PARTITION BY slice ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY slice) AS n
             |  FROM t WHERE doc_id % 3 = 0),
             |hq AS (
             |  SELECT slice, q, max(CASE WHEN rn = CAST(ceil(q * n) AS BIGINT)
             |    THEN CAST(v AS DOUBLE) END) AS hist_v
             |  FROM h CROSS JOIN qs GROUP BY slice, q),
             |cq AS (
             |  SELECT slice, q, max(CASE WHEN rn = CAST(ceil(q * n) AS BIGINT)
             |    THEN CAST(v AS DOUBLE) END) AS batch_v
             |  FROM c CROSS JOIN qs GROUP BY slice, q)
             |SELECT cq.slice, cq.q, hq.hist_v, cq.batch_v,
             |  CASE WHEN hq.hist_v IS NULL THEN 1.0
             |    WHEN greatest(abs(hq.hist_v), abs(cq.batch_v)) = 0
             |    THEN 0.0
             |    ELSE abs(hq.hist_v - cq.batch_v) /
             |      greatest(abs(hq.hist_v), abs(cq.batch_v)) END AS rel_gap
             |FROM cq LEFT JOIN hq ON hq.slice = cq.slice AND hq.q = cq.q
             |ORDER BY cq.slice, cq.q""".stripMargin)),

    // ---- Pearson χ² homogeneity drift per source, CELL-DECOMPOSED:
    // the categorical complement of q153's KS (which sees only
    // ordered/numeric shape) — a source whose LANGUAGE mix shifted
    // (scraper change, geo rollout) flags here even when its length
    // profile is unchanged. Per (source, lang) cell vs rest-of-corpus:
    // the paired cell term (O_s−E_s)²/E_s + (O_r−E_r)²/E_r folds to
    // diff²/(n_s·n_r·C_c) with diff = O_sc·n_r − O_rc·n_s — an EXACT
    // integer (≤ ~2^32 at corpus scale, squared only after the double
    // cast; both factors < 2^53 so the one multiply + one divide are
    // IEEE-identical cross-engine). Emitting cells, not just the χ²
    // sum, keeps the output hash-exact (no cross-row float
    // accumulation) AND answers the operator's next question — WHICH
    // language shifted. Scale shape: ONE corpus pass folds to
    // |sources|×|langs| cells (map-side combined); everything after is
    // control-plane (dense grid via broadcast cross join, marginal
    // joins broadcast) ----
    QuerySpec("q158_chisq_drift",
      (s, dir) => {
        // lang normalized against NULLs in BOTH engines: Spark's
        // equi-joins drop NULL keys while the oracle's CROSS JOIN
        // grid keeps them — a latent cross-engine divergence on any
        // corpus with unlabeled docs. The grid/marginal/term plan
        // lives in [[graft.streaming.LangMix.chisq]] (shared verbatim
        // with q185's incremental path — one computation, two
        // state-feeding forms; arithmetic-bound notes there)
        val cells = t(s, dir, "documents")
          .groupBy(col("source"),
            coalesce(col("lang"), lit("(null)")).as("lang"))
          .agg(count(lit(1)).as("o"))
        graft.streaming.LangMix.chisq(cells)
      },
      Some("""WITH cells AS (
             |  SELECT source, coalesce(lang, '(null)') AS lang,
             |    CAST(count(*) AS BIGINT) AS o
             |  FROM documents GROUP BY 1, 2),
             |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s
             |       FROM cells GROUP BY 1),
             |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c_c
             |       FROM cells GROUP BY 1),
             |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n_g FROM cells),
             |x AS (
             |  SELECT r.source, c.lang,
             |    CAST(coalesce(cl.o, 0) AS BIGINT) AS o,
             |    r.n_s, c.c_c, tt.n_g - r.n_s AS n_r
             |  FROM rt r CROSS JOIN ct c CROSS JOIN tt
             |  LEFT JOIN cells cl ON cl.source = r.source AND cl.lang = c.lang),
             |y AS (
             |  SELECT source, lang, o, n_s, c_c,
             |    CAST(o * n_r - (c_c - o) * n_s AS BIGINT) AS diff, n_r
             |  FROM x)
             |SELECT source, lang, o, n_s, c_c, diff,
             |  CASE WHEN n_s * n_r = 0 THEN 0.0
             |    ELSE (CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)) /
             |      CAST(n_s * n_r * c_c AS DOUBLE) END AS term
             |FROM y ORDER BY source, lang""".stripMargin)),

    // ---- Mann–Whitney U rank-sum drift per event type: does a type's
    // VALUE distribution sit higher/lower than the rest of the stream?
    // The nonparametric location test completing the drift kit (KS =
    // shape, χ² = categorical mix, U = location) — robust to the
    // heavy tails that break mean-based monitors. EXACT integers via
    // midranks-doubled: with per-value counts, midrank2(v) =
    // 2·cumG(v) − G(v) + 1 is an INTEGER even where ties make
    // midranks half-integral; 2R_s = Σ O_sv·midrank2, U2 = 2R_s −
    // n_s(n_s+1), and the AUC effect size U2/(2·n_s·n_r) is one
    // divide of exact operands (the q131/q151/q153 discipline).
    // Scale shape: ONE corpus shuffle folds events to (type, v)
    // counts; the value ladder and its cumulative window run over
    // DISTINCT v — control-plane, the q153 CDF pattern (whitelisted
    // in PlanShapeSpec's partitionless-window guard). Arithmetic
    // bound: 2R <= 2N² needs N <= ~2·10⁹ rows per test in long
    // arithmetic (same class as q131's N³ bound); past that, ANSI
    // overflow throws LOUDLY and the migration is decimal(38,0) on
    // the r2 fold (DuckDB already widens to HUGEINT) ----
    QuerySpec("q159_mann_whitney",
      (s, dir) => {
        val cnt = t(s, dir, "events")
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("v"))
          .groupBy(col("event_type"), col("v"))
          .agg(count(lit(1)).as("m"))
          .localCheckpoint(true) // consumers: ladder, rank join, totals
        val ladder = cnt.groupBy(col("v")).agg(sum(col("m")).as("g"))
          .withColumn("cumg", sum(col("g")).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
          .select(col("v"),
            (lit(2L) * col("cumg") - col("g") + 1).as("mid2"))
        val nT = cnt.agg(sum(col("m")).as("n_g"))
        cnt.join(broadcast(ladder), Seq("v"))
          .groupBy(col("event_type"))
          .agg(sum(col("m")).as("n_s"),
            graft.functions.TryAgg.trySumExact(
              try_multiply(col("m"), col("mid2"))).as("r2"),
            // the AUC's rank sum in double space (exact below 2^53):
            // the Long Σ m·mid2 is an N² quantity that overflows 2^63
            // at ~2e9 events, with 2·n_s·n_r alongside it — an ANSI
            // abort by default, silent auc corruption under
            // ansi=false. The Long `u2` diagnostic rides try_* forms:
            // exact while int64-representable, NULL beyond (a per-row
            // m·mid2 overflow poisons the fold via TryAgg — SUM would
            // skip it and report a wrong non-NULL partial) — never an
            // abort
            sum(col("m").cast("double") * col("mid2")).as("r2d"))
          .crossJoin(broadcast(nT))
          .withColumn("n_r", col("n_g") - col("n_s"))
          .withColumn("u2", try_subtract(col("r2"),
            try_multiply(col("n_s"), col("n_s") + 1)))
          .select(col("event_type"), col("n_s"), col("n_r"), col("u2"),
            when(col("n_s") === 0 || col("n_r") === 0, lit(0.5))
              .otherwise((col("r2d") -
                col("n_s").cast("double") * (col("n_s") + 1)) /
                (lit(2.0) * col("n_s") * col("n_r")))
              .as("auc"))
          .orderBy(col("event_type"))
      },
      Some("""WITH cnt AS (
             |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
             |    CAST(count(*) AS BIGINT) AS m
             |  FROM events GROUP BY 1, 2),
             |lad AS (
             |  SELECT v, CAST(2 * sum(sum(m)) OVER (ORDER BY v)
             |    - sum(m) + 1 AS BIGINT) AS mid2
             |  FROM cnt GROUP BY v),
             |tt AS (SELECT CAST(sum(m) AS BIGINT) AS n_g FROM cnt),
             |agg AS (
             |  SELECT event_type, CAST(sum(m) AS BIGINT) AS n_s,
             |    CAST(sum(m * l.mid2) AS BIGINT) AS r2
             |  FROM cnt JOIN lad l USING (v) GROUP BY 1)
             |SELECT event_type, n_s, tt.n_g - n_s AS n_r,
             |  CAST(r2 - n_s * (n_s + 1) AS BIGINT) AS u2,
             |  CASE WHEN n_s * (tt.n_g - n_s) = 0 THEN 0.5
             |    ELSE CAST(r2 - n_s * (n_s + 1) AS DOUBLE) /
             |      CAST(2 * n_s * (tt.n_g - n_s) AS DOUBLE) END AS auc
             |FROM agg CROSS JOIN tt ORDER BY event_type""".stripMargin)),

    // ---- cross-source duplication matrix: WHICH sources copy from
    // which — per unordered source pair, the count of MinHash-banded
    // near-dup candidate pairs and of distinct docs involved. The
    // operational view behind source-level curation decisions
    // (deprioritize a mirror, dedup a pair of crawls against each
    // other first): q20's candidate machinery, rolled up by
    // provenance. Scale shape: candidates come from the capped band
    // shuffle (never all-pairs); the provenance joins move only
    // (doc_id, source) slivers and candidate-pair ids — text never
    // moves; the matrix itself is |sources|² control-plane. Exact
    // integers: each pair contributes two (pair, doc) rows, so
    // n_pairs = count/2 and n_docs = count(DISTINCT doc) ----
    QuerySpec("q160_dup_matrix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        val cand = DedupFunctions.minhashCandidates(docs, "doc_id",
          "text", shingleN = 3, k = 12, r = 2, portable = true)
        cand
          .join(src.toDF("d1", "s1"), Seq("d1"))
          .join(src.toDF("d2", "s2"), Seq("d2"))
          .select(least(col("s1"), col("s2")).as("src_a"),
            greatest(col("s1"), col("s2")).as("src_b"),
            explode(array(col("d1"), col("d2"))).as("d"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(expr("count(*) div 2").as("n_pairs"),
            countDistinct(col("d")).as("n_docs"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, len(w) - 2),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM w WHERE len(w) >= 3),
             |hs AS (
             |  SELECT doc_id, list_transform(s, tk ->
             |    CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) & 1073741823) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id, list_transform(generate_series(0, 11), i ->
             |    list_min(list_transform(hs, h ->
             |      ((1000003*i + 12289) * h + (7919*i + 104729)) % 2147483647))) AS sig
             |  FROM hs),
             |bands AS (
             |  SELECT doc_id, bb AS band,
             |    sig[2*bb + 1]::VARCHAR || '_' || sig[2*bb + 2]::VARCHAR AS band_key
             |  FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |sized AS (
             |  SELECT band, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
             |kept AS (
             |  SELECT b.* FROM bands b JOIN sized s USING (band, band_key)
             |  WHERE s.n <= 1000),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |  FROM kept x JOIN kept y
             |    ON x.band = y.band AND x.band_key = y.band_key
             |   AND y.doc_id > x.doc_id),
             |j AS (
             |  SELECT least(a.source, b.source) AS src_a,
             |    greatest(a.source, b.source) AS src_b, c.d1, c.d2
             |  FROM cand c
             |  JOIN documents a ON a.doc_id = c.d1
             |  JOIN documents b ON b.doc_id = c.d2),
             |x AS (SELECT src_a, src_b, unnest([d1, d2]) AS d FROM j)
             |SELECT src_a, src_b, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
             |  CAST(count(DISTINCT d) AS BIGINT) AS n_docs
             |FROM x GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)),

    // ---- per-source dedup impact: what earliest-wins near-dup
    // removal DOES to each source — docs, docs in any dup cluster,
    // docs removed (cluster members that are not the min-id keeper),
    // docs kept. The before/after accounting a curation run reports
    // (q160 says WHERE the duplication is; this says what acting on
    // it costs each source). Cluster labels from the q33 pipeline
    // (banded candidates → O(log d) pointer-jump resolve); keeper =
    // label by the min-id convention, so removed ≡ doc_id ≠
    // cluster_id. One slim left join of labels onto the (doc_id,
    // source) projection, one rollup — text never moves, output is
    // |sources| rows ----
    QuerySpec("q161_dedup_impact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val clusters = DedupFunctions.dupClusters(
          DedupFunctions.minhashCandidates(docs, "doc_id", "text",
            shingleN = 3, k = 12, r = 2, portable = true))
        docs.select(col("doc_id"), col("source"))
          .join(clusters, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
              .as("n_clustered"),
            sum(when(col("cluster_id").isNotNull &&
                col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
              .as("n_removed"))
          .withColumn("n_kept", col("n_docs") - col("n_removed"))
          .orderBy(col("source"))
      },
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    generate_series(1, len(w) - 2),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM w WHERE len(w) >= 3),
             |hs AS (
             |  SELECT doc_id, list_transform(s, tk ->
             |    CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) & 1073741823) AS hs
             |  FROM sh),
             |sig AS (
             |  SELECT doc_id, list_transform(generate_series(0, 11), i ->
             |    list_min(list_transform(hs, h ->
             |      ((1000003*i + 12289) * h + (7919*i + 104729)) % 2147483647))) AS sig
             |  FROM hs),
             |bands AS (
             |  SELECT doc_id, bb AS band,
             |    sig[2*bb + 1]::VARCHAR || '_' || sig[2*bb + 2]::VARCHAR AS band_key
             |  FROM sig, unnest(generate_series(0, 5)) AS u(bb)),
             |sized AS (
             |  SELECT band, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
             |kept AS (
             |  SELECT b.* FROM bands b JOIN sized s USING (band, band_key)
             |  WHERE s.n <= 1000),
             |pairs AS (
             |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
             |  FROM kept x JOIN kept y
             |    ON x.band = y.band AND x.band_key = y.band_key AND y.doc_id > x.doc_id),
             |edges AS (
             |  SELECT d1 AS a, d2 AS b FROM pairs
             |  UNION SELECT d2, d1 FROM pairs
             |  UNION SELECT d1, d1 FROM pairs
             |  UNION SELECT d2, d2 FROM pairs),
             |reach AS (
             |  SELECT a AS node, b AS r FROM edges
             |  UNION
             |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
             |cl AS (SELECT node AS doc_id, min(r) AS cluster_id
             |       FROM reach GROUP BY node),
             |agg AS (
             |  SELECT d.source,
             |    CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(CASE WHEN cl.cluster_id IS NOT NULL
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
             |    CAST(sum(CASE WHEN cl.cluster_id IS NOT NULL
             |      AND d.doc_id <> cl.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_removed
             |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
             |  GROUP BY 1)
             |SELECT source, n_docs, n_clustered, n_removed,
             |  CAST(n_docs - n_removed AS BIGINT) AS n_kept
             |FROM agg ORDER BY source""".stripMargin)),

    // ---- survivorship merge (golden record) per exact-duplicate
    // group: the record-consolidation step after dedup — keeper id =
    // earliest, keeper source via min_by, language by majority vote
    // (count desc, lang asc tie-break), max chars. Clones planted
    // in-plan (every 17th doc gains two mirror copies at offset ids,
    // one with a flipped language, mirrored verbatim in the oracle)
    // since the raw corpus has no byte-exact dups. Scale: ONE
    // groupBy(md5) fold for the scalar survivors plus one
    // (grp, lang) fold for the vote — the vote window runs over
    // (grp, lang) COUNTS (≤ |langs| rows per group), never rows.
    // The hashed-and-projected corpus (text dropped after md5)
    // localCheckpoints once: it feeds BOTH folds, and lazily each
    // re-ran the three-scan union (measured 6 scans) ----
    QuerySpec("q166_survivorship",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
        val all = docs
          .unionByName(base
            .withColumn("doc_id", col("doc_id") + lit(10000000L))
            .withColumn("source", concat(lit("mirror1_"), col("source"))))
          .unionByName(base
            .withColumn("doc_id", col("doc_id") + lit(20000000L))
            .withColumn("source", concat(lit("mirror2_"), col("source")))
            .withColumn("lang", lit("xx")))
          .select(md5(col("text")).as("grp"), col("doc_id"),
            col("source"), col("n_chars"), col("lang"))
          .localCheckpoint()
        val per = all.groupBy(col("grp")).agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("keeper_id"),
          min_by(col("source"), col("doc_id")).as("keeper_source"),
          max(col("n_chars")).as("max_chars"))
        val vote = all.groupBy(col("grp"), col("lang"))
          .agg(count(lit(1)).as("cl"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("grp"))
              .orderBy(col("cl").desc, col("lang"))))
          .filter(col("rn") === 1)
          .select(col("grp"), col("lang").as("lang_consensus"))
        per.join(vote, Seq("grp")).filter(col("n_docs") >= 2)
          .select(col("grp"), col("n_docs"), col("keeper_id"),
            col("keeper_source"), col("lang_consensus"),
            col("max_chars"))
          .orderBy(col("grp"))
      },
      Some("""WITH b AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
             |a AS (
             |  SELECT doc_id, text, lang, source, n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000000, text, lang,
             |    'mirror1_' || source, n_chars FROM b
             |  UNION ALL
             |  SELECT doc_id + 20000000, text, 'xx',
             |    'mirror2_' || source, n_chars FROM b),
             |g AS (SELECT md5(text) AS grp, * FROM a),
             |per AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
             |          min(doc_id) AS keeper_id,
             |          min_by(source, doc_id) AS keeper_source,
             |          max(n_chars) AS max_chars
             |        FROM g GROUP BY 1),
             |lc AS (SELECT grp, lang, count(*) AS cl FROM g GROUP BY 1, 2),
             |cons AS (SELECT grp, lang AS lang_consensus FROM (
             |           SELECT grp, lang, row_number() OVER (
             |             PARTITION BY grp ORDER BY cl DESC, lang) AS rn
             |           FROM lc) WHERE rn = 1)
             |SELECT per.grp, per.n_docs, per.keeper_id,
             |  per.keeper_source, cons.lang_consensus, per.max_chars
             |FROM per JOIN cons USING (grp)
             |WHERE n_docs >= 2 ORDER BY grp""".stripMargin)),

    // ---- pairwise source-vocabulary Jaccard: which sources share a
    // token inventory (template farms, scraped mirrors) — the
    // source-level twin of the doc-level near-dup family. The
    // (source, token) inventory dedupes ONCE (map-side combined);
    // intersections come from the token-keyed inverted-index self-join
    // (per-token cost = |sources containing it|², fine at this vocab;
    // at open-web scale the production variant drops ubiquitous
    // tokens first, exactly PPJoin's prefix-filter logic); set sizes
    // broadcast back for the ONE divide ----
    QuerySpec("q168_vocab_jaccard",
      (s, dir) => {
        // the (source, token) inventory is vocab-sized after the
        // distinct; localCheckpoint so its three references (sizes +
        // both self-join sides) don't each re-scan and re-tokenize
        // the corpus (q153 discipline)
        val tok = t(s, dir, "documents")
          .select(col("source"),
            explode(array_distinct(TextFunctions.tokens(col("text"))))
              .as("tok"))
          .distinct()
          .localCheckpoint()
        val sizes = tok.groupBy(col("source"))
          .agg(count(lit(1)).as("nv"))
        val inter = tok.withColumnRenamed("source", "s1")
          .join(tok.withColumnRenamed("source", "s2"), Seq("tok"))
          .filter(col("s1") < col("s2"))
          .groupBy(col("s1"), col("s2"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(broadcast(sizes.select(col("source").as("s1"),
            col("nv").as("nv1"))), Seq("s1"))
          .join(broadcast(sizes.select(col("source").as("s2"),
            col("nv").as("nv2"))), Seq("s2"))
          .select(col("s1"), col("s2"), col("n_inter"), col("nv1"),
            col("nv2"),
            (col("n_inter").cast("double") /
              (col("nv1") + col("nv2") - col("n_inter")).cast("double"))
              .as("jaccard"))
          .orderBy(col("s1"), col("s2"))
      },
      Some("""WITH tok AS (SELECT DISTINCT source,
             |    unnest(list_distinct(
             |      regexp_extract_all(lower(text), '[a-z0-9]+'))) AS tok
             |  FROM documents),
             |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
             |       FROM tok GROUP BY 1),
             |inter AS (SELECT a.source AS s1, b.source AS s2,
             |            CAST(count(*) AS BIGINT) AS n_inter
             |          FROM tok a JOIN tok b ON a.tok = b.tok
             |            AND a.source < b.source
             |          GROUP BY 1, 2)
             |SELECT i.s1, i.s2, i.n_inter, z1.nv AS nv1, z2.nv AS nv2,
             |  CAST(i.n_inter AS DOUBLE) /
             |    CAST(z1.nv + z2.nv - i.n_inter AS DOUBLE) AS jaccard
             |FROM inter i
             |JOIN sz z1 ON z1.source = i.s1
             |JOIN sz z2 ON z2.source = i.s2
             |ORDER BY s1, s2""".stripMargin)),

    // ---- deterministic stratified split with exact per-stratum
    // proportions (80/10/10 by hash rank within each (source, lang)
    // stratum): the train/val/test assignment that is reproducible
    // across engines and runs — no rand(), the order key is the
    // cross-engine md5 of the id (the q134 leakage-safe discipline,
    // here with exact quotas instead of hash thresholds). Integer gate
    // arithmetic (rn·10 vs n·8/n·9) — no floats anywhere; id_sum pins
    // the exact assignment, not just the counts. Scale: the rank
    // window partitions by stratum; for mega-strata the same rank
    // comes from [[graft.operators.GlobalIndex]] applied per stratum
    // (range-partition the hash, prefix-sum the offsets) ----
    QuerySpec("q169_stratified_split",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("lang"))
        val r = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            md5(col("doc_id").cast("string")).as("h"))
          .withColumn("rn", row_number().over(
            w.orderBy(col("h"), col("doc_id"))))
          .withColumn("n", count(lit(1)).over(w))
        r.withColumn("split",
            when(col("rn") * 10 <= col("n") * 8, "train")
              .when(col("rn") * 10 <= col("n") * 9, "val")
              .otherwise("test"))
          .groupBy(col("source"), col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy(col("source"), col("lang"), col("split"))
      },
      Some("""WITH r AS (SELECT doc_id, source, lang,
             |    row_number() OVER (PARTITION BY source, lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             |      AS rn,
             |    count(*) OVER (PARTITION BY source, lang) AS n
             |  FROM documents),
             |sp AS (SELECT source, lang, doc_id,
             |         CASE WHEN rn * 10 <= n * 8 THEN 'train'
             |              WHEN rn * 10 <= n * 9 THEN 'val'
             |              ELSE 'test' END AS split
             |       FROM r)
             |SELECT source, lang, split,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM sp GROUP BY 1, 2, 3
             |ORDER BY source, lang, split""".stripMargin)),

    // ---- token co-occurrence lift (the PMI family's exact-ratio
    // form): which token pairs appear together in documents more than
    // independence predicts — collocation mining / template detection.
    // lift = n_ab·N / (n_a·n_b): THREE exact integer document counts
    // and one integer-product ratio, ONE divide. The per-doc pair
    // expansion is |doc vocab|² — bounded here by the corpus's token
    // inventory; the open-web shape caps each doc to its top-m salient
    // tokens first (same prefix-filter logic as PPJoin). Document
    // frequencies broadcast back (vocab-sized) ----
    QuerySpec("q170_cooccurrence",
      (s, dir) => {
        // ONE corpus scan: the per-doc distinct token sets materialize
        // once (localCheckpoint — the q153 multi-reference discipline;
        // four downstream references would otherwise re-run the scan
        // and re-tokenize per reference), pairs come from the
        // double-explode of the set (no doc-keyed self-join shuffle)
        val sets = t(s, dir, "documents")
          .select(col("doc_id"),
            array_distinct(TextFunctions.tokens(col("text"))).as("ts"))
          .filter(size(col("ts")) > 0)
          .localCheckpoint()
        val dfreq = sets.select(explode(col("ts")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
        val pairs = sets.select(explode(col("ts")).as("a"), col("ts"))
          .select(col("a"), explode(col("ts")).as("b"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        val total = sets.agg(count(lit(1)).as("n_docs"))
        pairs
          .join(broadcast(dfreq.select(col("tok").as("a"),
            col("n_tok").as("n_a"))), Seq("a"))
          .join(broadcast(dfreq.select(col("tok").as("b"),
            col("n_tok").as("n_b"))), Seq("b"))
          .crossJoin(broadcast(total))
          .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
            col("n_docs"),
            // lift in double space (exact below 2^53): the Long
            // products n_ab·N and n_a·n_b overflow 2^63 at ~3e9-doc
            // corpora — an ANSI abort by default, a silently corrupted
            // ratio under ansi=false
            ((col("n_ab").cast("double") * col("n_docs")) /
              (col("n_a").cast("double") * col("n_b"))).as("lift"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH dt AS (SELECT DISTINCT doc_id,
             |    unnest(list_distinct(
             |      regexp_extract_all(lower(text), '[a-z0-9]+'))) AS tok
             |  FROM documents),
             |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
             |      FROM dt GROUP BY 1),
             |p AS (SELECT x.tok AS a, y.tok AS b,
             |        CAST(count(*) AS BIGINT) AS n_ab
             |      FROM dt x JOIN dt y ON x.doc_id = y.doc_id
             |        AND x.tok < y.tok
             |      GROUP BY 1, 2),
             |t0 AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
             |         AS n_docs FROM dt)
             |SELECT p.a, p.b, p.n_ab, fa.n_tok AS n_a, fb.n_tok AS n_b,
             |  t0.n_docs,
             |  CAST(p.n_ab * t0.n_docs AS DOUBLE) /
             |    CAST(fa.n_tok * fb.n_tok AS DOUBLE) AS lift
             |FROM p JOIN f fa ON fa.tok = p.a
             |JOIN f fb ON fb.tok = p.b CROSS JOIN t0
             |ORDER BY a, b""".stripMargin)),

    // ---- the drift screen's VOCABULARY dimension, oracle-gated (the
    // q157 discipline extended to the second drift axis):
    // StreamingProfile.vocabNovelty — the EXACT code drift() serves
    // from stored HLL states — run over a history/batch split in the
    // sparse-exact regime, where inclusion–exclusion over merged
    // states IS exact distinct-set arithmetic, vs DuckDB's exact
    // distinct counts. One divide of exact integers per slice → the
    // double hash-matches. Scale shape: each side folds to |slices|
    // kilobyte states in one corpus pass; the novelty join is
    // |slices|-rows control-plane ----
    QuerySpec("q174_vocab_novelty",
      (s, dir) => {
        // ONE corpus pass: fold per (slice, side) — HLL states are
        // merge-closed, so vocabNovelty's union merge over the split
        // states equals the direct union sketch. The |slices|×2 state
        // rows are checkpointed (control-plane) because vocabNovelty
        // references each side twice (its own estimate + the union) —
        // exactly how drift() serves it (stored state + pinned batch).
        val states = t(s, dir, "documents")
          .select(col("source").as("slice"),
            (pmod(col("doc_id"), lit(3)) === 0).as("_isb"),
            explode(TextFunctions.tokens(col("text"))).as("_t"))
          .groupBy(col("slice"), col("_isb"))
          .agg(graft.functions.DistinctSketch
            .sketchState(xxhash64(col("_t"))).as("vocab_st"))
          .localCheckpoint()
        graft.streaming.StreamingProfile.vocabNovelty(
            states.filter(!col("_isb")).select("slice", "vocab_st"),
            states.filter(col("_isb")).select("slice", "vocab_st"),
            p = 12, sparseMax = 8192)
          .orderBy(col("slice"))
      },
      Some("""WITH t AS (
             |  SELECT source AS slice, doc_id,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             |  FROM documents),
             |h AS (SELECT slice, CAST(count(DISTINCT tok) AS BIGINT) AS hv
             |      FROM t WHERE doc_id % 3 <> 0 GROUP BY slice),
             |b AS (SELECT slice, CAST(count(DISTINCT tok) AS BIGINT) AS bv
             |      FROM t WHERE doc_id % 3 = 0 GROUP BY slice),
             |u AS (SELECT slice, CAST(count(DISTINCT tok) AS BIGINT) AS uv
             |      FROM t GROUP BY slice)
             |SELECT b.slice, coalesce(h.hv, 0) AS hist_vocab,
             |  b.bv AS batch_vocab, u.uv AS union_vocab,
             |  CASE WHEN b.bv = 0 THEN 0.0
             |    ELSE least(1.0, greatest(0.0,
             |      CAST(u.uv - coalesce(h.hv, 0) AS DOUBLE) /
             |        CAST(b.bv AS DOUBLE)))
             |  END AS vocab_novelty
             |FROM b LEFT JOIN h ON h.slice = b.slice
             |JOIN u ON u.slice = b.slice
             |ORDER BY b.slice""".stripMargin)),

    // ---- the drift screen's LANGUAGE-MIX dimension, oracle-gated:
    // StreamingProfile.langChisqCells — the EXACT code drift() serves
    // from stored lang_m state maps — run over a history/batch split
    // built from the lang column (the oracle-expressible labeler; the
    // streaming path labels with langIdFromTokens, whose own gate is
    // q138/StreamingProfileSpec). Cells carry exact-integer counts +
    // marginals and ONE deterministic multiply/divide per cell (the
    // q158 discipline) so the gate hash-matches without cross-row
    // float accumulation. Scale shape: one corpus pass folds to
    // |slices|×|langs| map entries per side; everything after is
    // control-plane ----
    QuerySpec("q175_lang_chisq",
      (s, dir) => {
        // ONE corpus fold to |slices|×2×|langs| cells, checkpointed
        // (control-plane); both sides' lang_m maps derive from it —
        // the state shape drift() serves from
        val cells = t(s, dir, "documents")
          .select(col("source").as("slice"),
            (pmod(col("doc_id"), lit(3)) === 0).as("_isb"),
            coalesce(col("lang"), lit("(null)")).as("_lg"))
          .groupBy(col("slice"), col("_isb"), col("_lg"))
          .agg(count(lit(1)).as("_n"))
          .localCheckpoint()
        def langm(isBatch: Boolean) = cells
          .filter(if (isBatch) col("_isb") else !col("_isb"))
          .groupBy(col("slice"))
          .agg(map_from_entries(sort_array(
            collect_list(struct(col("_lg"), col("_n"))))).as("lang_m"))
        graft.streaming.StreamingProfile.langChisqCells(
            langm(isBatch = false), langm(isBatch = true))
          .orderBy(col("slice"), col("lg"))
      },
      Some("""WITH d AS (SELECT source AS slice, doc_id,
             |    coalesce(lang, '(null)') AS lg FROM documents),
             |hc AS (SELECT slice, lg, CAST(count(*) AS BIGINT) AS hn
             |       FROM d WHERE doc_id % 3 <> 0 GROUP BY 1, 2),
             |bc AS (SELECT slice, lg, CAST(count(*) AS BIGINT) AS bn
             |       FROM d WHERE doc_id % 3 = 0 GROUP BY 1, 2),
             |cells AS (SELECT coalesce(hc.slice, bc.slice) AS slice,
             |            coalesce(hc.lg, bc.lg) AS lg,
             |            coalesce(hn, 0) AS hn, coalesce(bn, 0) AS bn
             |          FROM hc FULL JOIN bc
             |            ON hc.slice = bc.slice AND hc.lg = bc.lg),
             |m AS (SELECT slice, lg, hn, bn,
             |        CAST(sum(hn) OVER (PARTITION BY slice) AS BIGINT) AS n_h,
             |        CAST(sum(bn) OVER (PARTITION BY slice) AS BIGINT) AS n_b
             |      FROM cells)
             |SELECT slice, lg, hn, bn, n_h, n_b,
             |  CASE WHEN CAST(n_b AS DOUBLE) * CAST(n_h AS DOUBLE)
             |         * CAST(bn + hn AS DOUBLE) = 0 THEN 0.0
             |    ELSE (CAST(bn AS DOUBLE) * CAST(n_h AS DOUBLE)
             |           - CAST(hn AS DOUBLE) * CAST(n_b AS DOUBLE))
             |       * (CAST(bn AS DOUBLE) * CAST(n_h AS DOUBLE)
             |           - CAST(hn AS DOUBLE) * CAST(n_b AS DOUBLE))
             |       / (CAST(n_b AS DOUBLE) * CAST(n_h AS DOUBLE)
             |           * CAST(bn + hn AS DOUBLE))
             |  END AS term
             |FROM m ORDER BY slice, lg""".stripMargin)),

    // ---- pretraining sequence packing (concat-and-chunk): docs
    // concatenate in a deterministic total order and chunk into
    // fixed-size context windows — per doc, which window it starts
    // and ends in and how many it spans (the boundary-crossing count
    // drives the truncate-vs-pad policy decision). The cumulative
    // token position is [[GlobalPrefix.runningSum]] — the distributed
    // prefix scan, NOT a single-partition window — and every derived
    // column is integer division on exact longs (zero divides →
    // hash-exact). Scale shape: one range exchange inside the
    // operator's materialized pass + control-plane offsets; the chunk
    // arithmetic is per-row expressions ----
    QuerySpec("q176_sequence_packing",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
          .filter(col("n_tok") > 0)
        graft.operators.GlobalPrefix.runningSum(
            docs, Seq(col("doc_id")), col("n_tok"), outCol = "cum_tok")
          .select(col("doc_id"), col("n_tok"), col("cum_tok"),
            expr("(cum_tok - n_tok) div 512").as("start_seq"),
            expr("(cum_tok - 1) div 512").as("end_seq"),
            expr("(cum_tok - 1) div 512 - (cum_tok - n_tok) div 512 + 1")
              .as("spans"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
             |      AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n_tok,
             |    CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tok
             |  FROM d WHERE n_tok > 0)
             |SELECT doc_id, n_tok, cum_tok,
             |  CAST((cum_tok - n_tok) // 512 AS BIGINT) AS start_seq,
             |  CAST((cum_tok - 1) // 512 AS BIGINT) AS end_seq,
             |  CAST((cum_tok - 1) // 512 - (cum_tok - n_tok) // 512 + 1
             |    AS BIGINT) AS spans
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- language-mislabel screen: exact-duplicate TEXT carrying
    // DIFFERENT language labels is a labeling defect (scraper locale
    // leakage, pipeline mix-up) that silently skews every per-lang
    // stat downstream. Planted in-plan (every 11th doc re-appears
    // under a forced 'xx' label, the q126 discipline) so the gate
    // always has known positives; grouping key is md5(text) — text
    // never moves past its hash. Scale shape: ONE corpus shuffle on
    // the hash, map-side combined; langs join as a sorted
    // comma-string (no array-typed oracle surface) ----
    QuerySpec("q177_lang_mislabel",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            coalesce(col("lang"), lit("(null)")).as("lang"))
        val corpus = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(11)) === 0)
            .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
              lit("xx").as("lang")))
        corpus
          .groupBy(md5(col("text").cast("binary")).as("text_md5"))
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("lang")).as("n_langs"),
            array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
            min(col("doc_id")).as("min_doc"))
          .filter(col("n_langs") > 1)
          .orderBy(col("text_md5"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text, coalesce(lang, '(null)') AS lang
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 200000, text, 'xx'
             |  FROM documents WHERE doc_id % 11 = 0)
             |SELECT md5(text) AS text_md5,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  array_to_string(list_sort(list_distinct(list(lang))), ',')
             |    AS langs,
             |  CAST(min(doc_id) AS BIGINT) AS min_doc
             |FROM corpus GROUP BY md5(text)
             |HAVING count(DISTINCT lang) > 1
             |ORDER BY text_md5""".stripMargin)),

    // ---- boilerplate line detection (the CCNet/RefinedWeb line-dedup
    // screen): a line appearing in >= 50% of a source's documents is
    // template boilerplate (nav bars, newsletter prompts, footers) and
    // should be stripped before training. Planted in-plan: ~75% of
    // each source's docs gain a per-source header line (known
    // positive) and ~6% a footer (known negative, below threshold).
    // The gate is an integer product (cnt*100 >= n_docs*50 — no float
    // ratio at the boundary). Scale shape: explode lines once, ONE
    // distinct-count fold per (source, line); source totals broadcast
    // back — lines never self-join ----
    QuerySpec("q178_boilerplate_lines",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val corpus = docs.select(col("doc_id"), col("source"),
          concat(
            when(pmod(col("doc_id"), lit(4)) =!= 3,
              concat(lit("subscribe to "), col("source"),
                lit(" newsletter today\n"))).otherwise(lit("")),
            col("text"),
            when(pmod(col("doc_id"), lit(17)) === 0,
              lit("\nunsubscribe link footer")).otherwise(lit("")))
            .as("txt"))
        val lines = corpus.select(col("doc_id"), col("source"),
          explode(split(col("txt"), "\n")).as("line"))
        val cnt = lines.groupBy(col("source"), col("line"))
          .agg(count_distinct(col("doc_id")).as("n_docs_with"))
        val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        cnt.join(broadcast(tot), Seq("source"))
          .filter(col("n_docs_with") * 100 >= col("n_docs") * 50 &&
            col("n_docs_with") >= 2)
          .select(col("source"), col("line"), col("n_docs_with"), col("n_docs"))
          .orderBy(col("source"), col("line"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id, source,
             |    CASE WHEN doc_id % 4 <> 3
             |      THEN 'subscribe to ' || source || ' newsletter today'
             |        || chr(10) ELSE '' END
             |    || text
             |    || CASE WHEN doc_id % 17 = 0
             |      THEN chr(10) || 'unsubscribe link footer' ELSE '' END
             |      AS txt
             |  FROM documents),
             |l AS (SELECT doc_id, source,
             |        unnest(string_split(txt, chr(10))) AS line FROM c),
             |cnt AS (SELECT source, line,
             |          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with
             |        FROM l GROUP BY 1, 2),
             |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |        FROM documents GROUP BY 1)
             |SELECT cnt.source, cnt.line, cnt.n_docs_with, tot.n_docs
             |FROM cnt JOIN tot ON tot.source = cnt.source
             |WHERE cnt.n_docs_with * 100 >= tot.n_docs * 50
             |  AND cnt.n_docs_with >= 2
             |ORDER BY cnt.source, cnt.line""".stripMargin)),

    // ---- contamination REPORT (the audit twin of q43's decontaminate
    // DROP): per (train doc, benchmark doc) pair, how many distinct
    // 5-gram shingles they share and what fraction of the train doc
    // that is — the evidence table a release review reads before
    // deciding what q43 removes. Rare-gram prefilter (benchmark doc
    // frequency <= 20): a boilerplate gram pairs every train doc with
    // every bench doc — the contamination signal lives in RARE grams,
    // and the cap is also what bounds the join fan-out at 100 TB.
    // Exact integers + one basis-point integer division (the q18
    // rule). Scale shape: one gram materialization feeds both sides;
    // the join is gram-keyed with the capped bench side; pair rollup
    // is map-side combined ----
    QuerySpec("q179_contamination_report",
      (s, dir) => {
        // planted contamination (the q126/q177 discipline): every
        // benchmark doc re-appears TRUNCATED on the train side
        // (doc_id+300000 ≡ 12 mod 13 — never benchmark), so the gate
        // always has known leaked pairs at every SF
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val corpus = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(13)) === 0)
            .select((col("doc_id") + 300000L).as("doc_id"),
              substring(col("text"), 1, 400).as("text")))
        // (doc_id, h) long pairs — compact; THREE consumers (bench
        // side, train side, per-doc sizes), so pinned once. SitePin
        // (bounded, releasable): this relation is
        // CORPUS-scale, so the lineage-kept lazy pin matters twice —
        // no per-call leak, and an executor loss recomputes instead of
        // killing the job (the localCheckpoint it replaces truncated
        // lineage)
        val grams = graft.operators.Materialize.SitePin("q179.grams")(corpus
          .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
          .select(col("doc_id"),
            explode(TextFunctions.shinglesFromWords(col("w"), 5)).as("sh"))
          .select(col("doc_id"), graft.functions.Hashes.md5Long(col("sh")).as("h")))
        val bench = grams.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select(col("doc_id").as("bench_id"), col("h"))
        val rare = bench.groupBy(col("h"))
          .agg(count_distinct(col("bench_id")).as("dfb"))
          .filter(col("dfb") <= 20)
        val train = grams.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        train.join(bench.join(rare.select(col("h")), Seq("h")), Seq("h"))
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .join(sizes, Seq("doc_id"))
          .select(col("doc_id"), col("bench_id"), col("n_shared"),
            col("n_grams"),
            expr("n_shared * 10000L div n_grams").as("overlap_bp"))
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 300000, substr(text, 1, 400)
             |  FROM documents WHERE doc_id % 13 = 0),
             |w AS (SELECT doc_id, string_split(text, ' ') AS w
             |      FROM corpus),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, len(w) - 4),
             |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
             |      || w[i+3] || ' ' || w[i+4]))) AS sh
             |  FROM w WHERE len(w) >= 5),
             |h AS (SELECT doc_id,
             |  CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h FROM sh),
             |bench AS (SELECT doc_id AS bench_id, h FROM h
             |          WHERE doc_id % 13 = 0),
             |rare AS (SELECT h FROM bench
             |         GROUP BY h HAVING count(DISTINCT bench_id) <= 20),
             |br AS (SELECT bench.bench_id, bench.h
             |       FROM bench JOIN rare USING (h)),
             |train AS (SELECT doc_id, h FROM h WHERE doc_id % 13 <> 0),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
             |          FROM train GROUP BY 1),
             |pairs AS (SELECT t.doc_id, br.bench_id,
             |            CAST(count(*) AS BIGINT) AS n_shared
             |          FROM train t JOIN br USING (h)
             |          GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT p.doc_id, p.bench_id, p.n_shared, s.n_grams,
             |  p.n_shared * 10000 // s.n_grams AS overlap_bp
             |FROM pairs p JOIN sizes s USING (doc_id)
             |ORDER BY p.doc_id, p.bench_id""".stripMargin)),

    // ---- tokenizer fertility by language: BPE-ish tokens per word-ish
    // token, the tokenizer-suitability diagnostic (a language whose
    // fertility balloons under a given tokenizer eats the training
    // budget; the number every multilingual data mix is weighted by).
    // Built from the two ALREADY-PAIRED counting kernels (q29's
    // bpeTokenCount, q17's tokenCount) so the oracle twins are known
    // bit-exact; the ratio is integer basis points (one div, no double
    // compare). Scale: one partial-agg shuffle on lang ----
    QuerySpec("q180_tokenizer_fertility",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextFunctions.bpeTokenCount(col("text"))).cast("long")
            .as("bpe_tokens"),
          sum(TextFunctions.tokenCount(col("text"))).cast("long")
            .as("word_tokens"),
          count(lit(1)).as("n_docs"))
        .withColumn("fertility_bp",
          expr("bpe_tokens * 10000L div word_tokens"))
        .orderBy(col("lang")),
      Some("""SELECT lang, bpe_tokens, word_tokens, n_docs,
             |  CAST(bpe_tokens * 10000 // word_tokens AS BIGINT) AS fertility_bp
             |FROM (SELECT lang,
             |  CAST(sum(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
             |  CAST(sum(length(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS word_tokens,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM documents GROUP BY lang)
             |ORDER BY lang""".stripMargin)),

    // ---- exact-dup cluster size distribution: the dedup-impact
    // histogram (how much of the corpus sits in clusters of size n —
    // the long tail is boilerplate, the head is the unique mass; the
    // curve every dedup-rate claim should be read against). Planted
    // clones (every 7th doc twice, every 21st a third time — derived
    // in-plan, any SF) guarantee sizes {1,2,3,4} exist. md5-keyed
    // one-shuffle fold then a size-keyed fold: cluster-count-sized.
    // keeper_id_sum (sum of each cluster's min id) rides the gate so a
    // wrong cluster MEMBERSHIP cannot hash-match by luck of the counts ----
    QuerySpec("q181_cluster_size_histogram",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val corpus = base
          .unionByName(base.filter(pmod(col("doc_id"), lit(7)) === 0)
            .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
          .unionByName(base.filter(pmod(col("doc_id"), lit(21)) === 0)
            .select((col("doc_id") + 800000L).as("doc_id"), col("text")))
        corpus
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("sz"), min(col("doc_id")).as("keeper"))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_clusters"),
            (col("sz") * count(lit(1))).as("n_docs"),
            sum(col("keeper")).as("keeper_id_sum"))
          .orderBy(col("sz"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 400000, text FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 800000, text FROM documents WHERE doc_id % 21 = 0),
             |cl AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS sz,
             |         min(doc_id) AS keeper
             |       FROM corpus GROUP BY h)
             |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
             |  CAST(sz * count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(keeper) AS BIGINT) AS keeper_id_sum
             |FROM cl GROUP BY sz ORDER BY sz""".stripMargin)),

    // ---- registrable-domain quota (web-crawl curation's domain-cap
    // rule): no domain may exceed 1.5× its fair share of the corpus —
    // cap = 1.5·N/D docs (N corpus docs, D distinct domains; the
    // synthetic domain key is source/lang, standing in for the
    // registrable-domain key a crawl carries) — keeping each domain's
    // deterministically-ranked head (cross-engine md5 order, the q169
    // discipline) and evicting the tail. Generalizes q57/q116's
    // source-level mixing to the key cardinality that matters at
    // 100 TB (millions of registrable domains). Exact integer gate:
    // admit iff 2·rn·D ≤ 3·N — no floats anywhere; admitted_id_sum
    // pins exact MEMBERSHIP (q181's keeper-sum rule), not just counts.
    // Scale: the rank window partitions by domain (high cardinality =
    // even distribution); a mega-domain hotspot takes the per-stratum
    // GlobalIndex rank, same note as q169; (N, D) is one broadcast
    // scalar row, never a second pass over ranked rows ----
    QuerySpec("q182_domain_quota",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            concat_ws("/", col("source"), col("lang")).as("domain"))
        // gate in the overflow-proof division form (rn ≤ (3N) div (2D)
        // ⟺ 2·rn·D ≤ 3·N for integer rn — see DomainQuota's scale
        // note: the product form overflows Long at 1e11 docs × 1e8
        // domains — an ANSI ARITHMETIC_OVERFLOW abort by default, a
        // silent wrapped-negative admit-the-tail under ansi=false).
        // Divisor floored at 1: an EMPTY documents table has
        // n_domains = 0, and under ANSI the raw div is a
        // DIVIDE_BY_ZERO abort where the answer is simply zero rows
        val consts = d.agg(count(lit(1)).as("n_total"),
          countDistinct(col("domain")).as("n_domains"))
          .select(expr("n_total * 3 div (greatest(n_domains, 1) * 2)")
            .as("adm_cap"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        d.withColumn("rn", row_number().over(w))
          .crossJoin(broadcast(consts))
          .withColumn("adm", col("rn") <= col("adm_cap"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("adm"), 1L).otherwise(0L)).as("n_admitted"),
            sum(when(col("adm"), col("doc_id")).otherwise(0L))
              .as("admitted_id_sum"))
          .orderBy(col("domain"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    concat_ws('/', source, lang) AS domain FROM documents),
             |c AS (SELECT count(*) AS n_total,
             |    count(DISTINCT domain) AS n_domains FROM d),
             |r AS (SELECT doc_id, domain,
             |    row_number() OVER (PARTITION BY domain
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM d)
             |SELECT domain,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN rn * n_domains * 2 <= n_total * 3
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
             |  CAST(sum(CASE WHEN rn * n_domains * 2 <= n_total * 3
             |    THEN doc_id ELSE 0 END) AS BIGINT) AS admitted_id_sum
             |FROM r, c
             |GROUP BY domain ORDER BY domain""".stripMargin)),

    // ---- INCREMENTAL domain quota (q182's cap rule maintained against
    // stored per-domain admission state — the q147 discipline applied
    // to curation): the corpus arrives in two slices; slice 0 folds
    // from empty state (exactly q182 on that slice), slice 1 ranks
    // ONLY its own rows, offsets each domain's ranks by the state's
    // consumed slots, and re-evaluates the cap under the UPDATED
    // totals (N and D grow; admission stays monotone — history is
    // never un-admitted). The form a continuously-ingesting crawl
    // actually runs: per-epoch cost scales with the slice, the state
    // is one row per domain. Scale notes in
    // [[graft.streaming.DomainQuota]] (window and state join share the
    // domain hash partitioning; (N, D) is one broadcast scalar) ----
    QuerySpec("q183_incremental_domain_quota",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            concat_ws("/", col("source"), col("lang")).as("domain"))
        // pin the slice-0 state (the production shape: state comes from
        // STORAGE, not a live subplan — fold 1 reads it three times:
        // totals, a0 join, final outer join; unpinned, each read
        // re-derives the whole slice-0 fold). SitePin: deterministic
        // upstream (md5 rank order), bounded per (session, site).
        val st0 = graft.operators.Materialize.SitePin("q183.state0")(
          graft.streaming.DomainQuota.admitIncrement(
            graft.streaming.DomainQuota.emptyState(s),
            d.filter(col("doc_id") % 3 =!= 0)))
        graft.streaming.DomainQuota.admitIncrement(
            st0, d.filter(col("doc_id") % 3 === 0))
          .orderBy(col("domain"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    concat_ws('/', source, lang) AS domain FROM documents),
             |old AS (SELECT * FROM d WHERE doc_id % 3 <> 0),
             |nw  AS (SELECT * FROM d WHERE doc_id % 3 = 0),
             |c0 AS (SELECT count(*) AS n0,
             |    count(DISTINCT domain) AS d0 FROM old),
             |r0 AS (SELECT doc_id, domain, row_number() OVER (
             |    PARTITION BY domain
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM old),
             |st AS (SELECT domain, count(*) AS s_docs,
             |    CAST(sum(CASE WHEN rn * d0 * 2 <= n0 * 3
             |      THEN 1 ELSE 0 END) AS BIGINT) AS s_adm,
             |    CAST(sum(CASE WHEN rn * d0 * 2 <= n0 * 3
             |      THEN doc_id ELSE 0 END) AS BIGINT) AS s_sum
             |  FROM r0, c0 GROUP BY domain),
             |c1 AS (SELECT
             |    (SELECT coalesce(CAST(sum(s_docs) AS BIGINT), 0) FROM st)
             |      + (SELECT count(*) FROM nw) AS n1,
             |    (SELECT count(DISTINCT domain) FROM
             |      (SELECT domain FROM st
             |       UNION ALL SELECT domain FROM nw)) AS d1),
             |r1 AS (SELECT n.doc_id, n.domain,
             |    coalesce(st.s_adm, 0) AS a0,
             |    row_number() OVER (PARTITION BY n.domain
             |      ORDER BY md5(CAST(n.doc_id AS VARCHAR)), n.doc_id) AS rn
             |  FROM nw n LEFT JOIN st ON n.domain = st.domain),
             |inc AS (SELECT domain, count(*) AS i_docs,
             |    CAST(sum(CASE WHEN (a0 + rn) * d1 * 2 <= n1 * 3
             |      THEN 1 ELSE 0 END) AS BIGINT) AS i_adm,
             |    CAST(sum(CASE WHEN (a0 + rn) * d1 * 2 <= n1 * 3
             |      THEN doc_id ELSE 0 END) AS BIGINT) AS i_sum
             |  FROM r1, c1 GROUP BY domain)
             |SELECT coalesce(st.domain, inc.domain) AS domain,
             |  CAST(coalesce(s_docs, 0) + coalesce(i_docs, 0)
             |    AS BIGINT) AS n_docs,
             |  CAST(coalesce(s_adm, 0) + coalesce(i_adm, 0)
             |    AS BIGINT) AS n_admitted,
             |  CAST(coalesce(s_sum, 0) + coalesce(i_sum, 0)
             |    AS BIGINT) AS admitted_id_sum
             |FROM st FULL OUTER JOIN inc ON st.domain = inc.domain
             |ORDER BY domain""".stripMargin)),

    // ---- INCREMENTAL target-share mixture (q57's data-mixing goal
    // maintained against stored per-stratum admission state — the q183
    // discipline applied to mixing, completing the continuous-
    // ingestion curation trio quota/dedup/mixture): the corpus arrives
    // in two slices; slice 0 folds from empty state, slice 1 ranks
    // ONLY its own rows (md5 order), offsets by the state's consumed
    // slots, and re-evaluates each stratum's cap
    // (target_bp · N) div 10^4 under the UPDATED total N — admission
    // monotone (caps only grow), exact integers only, admitted_id_sum
    // pins exact membership. q57's hash-rate draw is deliberately NOT
    // reused here: its rate falls as a stratum dominates, which would
    // un-admit history (see [[graft.streaming.MixtureQuota]]).
    // Scale notes there: per-stratum rank window, one broadcast N,
    // control-plane-sized state ----
    QuerySpec("q184_incremental_mixture",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang").as("stratum"))
        val tb = Map("en" -> 2000, "de" -> 2000, "es" -> 2000,
          "fr" -> 2000, "zh" -> 2000)
        // pin the slice-0 state (the q183 rule: fold 1 reads it three
        // times — totals, a0 join, final outer join)
        val st0 = graft.operators.Materialize.SitePin("q184.state0")(
          graft.streaming.MixtureQuota.admitIncrement(
            graft.streaming.MixtureQuota.emptyState(s),
            d.filter(col("doc_id") % 3 =!= 0), tb))
        graft.streaming.MixtureQuota.admitIncrement(
            st0, d.filter(col("doc_id") % 3 === 0), tb)
          .orderBy(col("stratum"))
      },
      Some("""WITH d AS (SELECT doc_id, lang AS stratum FROM documents
             |    WHERE lang IS NOT NULL),
             |tb AS (SELECT * FROM (VALUES ('de', 2000), ('en', 2000),
             |    ('es', 2000), ('fr', 2000), ('zh', 2000))
             |  t(stratum, bp)),
             |old AS (SELECT * FROM d WHERE doc_id % 3 <> 0),
             |nw  AS (SELECT * FROM d WHERE doc_id % 3 = 0),
             |c0 AS (SELECT count(*) AS n0 FROM old),
             |r0 AS (SELECT doc_id, stratum, row_number() OVER (
             |    PARTITION BY stratum
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM old),
             |st AS (SELECT r0.stratum, count(*) AS s_docs,
             |    CAST(sum(CASE WHEN rn * 10000 <= coalesce(bp, 0) * n0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS s_adm,
             |    CAST(sum(CASE WHEN rn * 10000 <= coalesce(bp, 0) * n0
             |      THEN doc_id ELSE 0 END) AS BIGINT) AS s_sum
             |  FROM r0 LEFT JOIN tb ON r0.stratum = tb.stratum, c0
             |  GROUP BY r0.stratum),
             |c1 AS (SELECT
             |    (SELECT coalesce(CAST(sum(s_docs) AS BIGINT), 0) FROM st)
             |      + (SELECT count(*) FROM nw) AS n1),
             |r1 AS (SELECT n.doc_id, n.stratum,
             |    coalesce(st.s_adm, 0) AS a0,
             |    row_number() OVER (PARTITION BY n.stratum
             |      ORDER BY md5(CAST(n.doc_id AS VARCHAR)), n.doc_id) AS rn
             |  FROM nw n LEFT JOIN st ON n.stratum = st.stratum),
             |inc AS (SELECT r1.stratum, count(*) AS i_docs,
             |    CAST(sum(CASE WHEN (a0 + rn) * 10000 <= coalesce(bp, 0) * n1
             |      THEN 1 ELSE 0 END) AS BIGINT) AS i_adm,
             |    CAST(sum(CASE WHEN (a0 + rn) * 10000 <= coalesce(bp, 0) * n1
             |      THEN doc_id ELSE 0 END) AS BIGINT) AS i_sum
             |  FROM r1 LEFT JOIN tb ON r1.stratum = tb.stratum, c1
             |  GROUP BY r1.stratum)
             |SELECT coalesce(st.stratum, inc.stratum) AS stratum,
             |  CAST(coalesce(s_docs, 0) + coalesce(i_docs, 0)
             |    AS BIGINT) AS n_docs,
             |  CAST(coalesce(s_adm, 0) + coalesce(i_adm, 0)
             |    AS BIGINT) AS n_admitted,
             |  CAST(coalesce(s_sum, 0) + coalesce(i_sum, 0)
             |    AS BIGINT) AS admitted_id_sum
             |FROM st FULL OUTER JOIN inc ON st.stratum = inc.stratum
             |ORDER BY stratum""".stripMargin)),

    // ---- INCREMENTAL language-mix maintenance (q158's χ² drift
    // dimension served from STORED cell state as slices arrive — the
    // q183/q184 discipline applied to the drift screen, whose χ² input
    // was previously last-batch-only): the corpus arrives in two
    // slices; each folds ONLY its own (source, lang) counts and merges
    // into state (counts are exactly mergeable — the sketch-shelf
    // store/merge lifecycle with the test's sufficient statistic as
    // the sketch); the full q158 output (dense grid, marginals, terms)
    // is then served from state with zero history rescan. The grid
    // computation is [[graft.streaming.LangMix.chisq]], shared
    // VERBATIM with q158 — the incremental and batch forms cannot
    // drift apart. Scale notes in [[graft.streaming.LangMix]] (state =
    // sources × langs control-plane rows; per-epoch cost = one slice
    // fold) ----
    QuerySpec("q185_incremental_langmix",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"))
        val st0 = graft.streaming.LangMix.observeIncrement(
          graft.streaming.LangMix.emptyState(s),
          d.filter(col("doc_id") % 3 =!= 0))
        val st1 = graft.streaming.LangMix.observeIncrement(
          st0, d.filter(col("doc_id") % 3 === 0))
        graft.streaming.LangMix.chisq(st1)
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    coalesce(lang, '(null)') AS lang FROM documents),
             |c_old AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             |  FROM d WHERE doc_id % 3 <> 0 GROUP BY 1, 2),
             |c_new AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
             |  FROM d WHERE doc_id % 3 = 0 GROUP BY 1, 2),
             |cells AS (SELECT source, lang, CAST(sum(o) AS BIGINT) AS o
             |  FROM (SELECT * FROM c_old UNION ALL SELECT * FROM c_new)
             |  GROUP BY 1, 2),
             |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s
             |       FROM cells GROUP BY 1),
             |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c_c
             |       FROM cells GROUP BY 1),
             |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n_g FROM cells),
             |x AS (
             |  SELECT r.source, c.lang,
             |    CAST(coalesce(cl.o, 0) AS BIGINT) AS o,
             |    r.n_s, c.c_c, tt.n_g - r.n_s AS n_r
             |  FROM rt r CROSS JOIN ct c CROSS JOIN tt
             |  LEFT JOIN cells cl ON cl.source = r.source AND cl.lang = c.lang),
             |y AS (
             |  SELECT source, lang, o, n_s, c_c,
             |    CAST(o * n_r - (c_c - o) * n_s AS BIGINT) AS diff, n_r
             |  FROM x)
             |SELECT source, lang, o, n_s, c_c, diff,
             |  CASE WHEN n_s * n_r = 0 THEN 0.0
             |    ELSE (CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)) /
             |      CAST(n_s * n_r * c_c AS DOUBLE) END AS term
             |FROM y ORDER BY source, lang""".stripMargin))
  )

  /** Every 20th embedding gains two EXACT copies at offset ids — the
    * planted-duplicate corpus behind q71/q72. Derived in-plan (scan +
    * filter + union: no shuffle, no driver data) so the same
    * construction runs at any SF, and mirrored verbatim by
    * [[PlantedDupOracle]]. */
  private def plantedDupCorpus(e: org.apache.spark.sql.DataFrame) = {
    val dups = e.filter(pmod(col("vec_id"), lit(20)) === 0)
    e.unionByName(dups.withColumn("vec_id", col("vec_id") + lit(1000000L)))
      .unionByName(dups.withColumn("vec_id", col("vec_id") + lit(2000000L)))
  }

  /** Exact all-pairs + recursive closure over the planted corpus —
    * shared by q71/q72 (both scale paths must reproduce the same exact
    * answer). Same closure shape as q44's oracle. (`lazy`: `specs`
    * above references this during object init — a strict val here
    * would still be null at that point.) */
  private lazy val PlantedDupOracle =
    """WITH RECURSIVE
      |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id, v FROM e0
      |      UNION ALL SELECT vec_id + 1000000, v FROM e0 WHERE vec_id % 20 = 0
      |      UNION ALL SELECT vec_id + 2000000, v FROM e0 WHERE vec_id % 20 = 0),
      |p AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2
      |  FROM c a JOIN c b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
      |edges AS (
      |  SELECT d1 AS a, d2 AS b FROM p
      |  UNION SELECT d2, d1 FROM p
      |  UNION SELECT d1, d1 FROM p
      |  UNION SELECT d2, d2 FROM p),
      |reach AS (
      |  SELECT a AS node, b AS r FROM edges
      |  UNION
      |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
      |SELECT node AS doc_id, min(r) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** Fixed dev merges table for q50 — deterministic, versioned with the
    * code; production pipelines load published merges
    * ([[graft.functions.BpeModel.load]], subword-nmt/GPT-2 format). */
  lazy val DevBpeModel = new graft.functions.BpeModel(Array(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("o", "r"), ("an", "d"),
    ("in", "g"), ("e", "s"), ("s", "t"), ("a", "r"), ("l", "e")))

  /** Candidate-volume evidence for the q71/q72 scale paths, in exactly
    * their gated configuration (SRP nBits=8/bands=4; k-means k=16,
    * probes=1) over the same planted corpus at the given SF dir.
    * threshold = -1 keeps every candidate pair the bucketing emits, so
    * the counts ARE the verification workload each path pays vs the
    * n·(n−1)/2 all-pairs cost — the number the 100 TB pruning claim
    * rests on. Surfaced per round in the bench artifact (`aux` field);
    * the ≥90% / ≥80% pruning assertions live in
    * [[graft.functions.SemanticDedupScaleSpec]]. */
  private[graft] def semanticPruningAux(
      s: org.apache.spark.sql.SparkSession, dir: String): Map[String, Long] = {
    val corpus = plantedDupCorpus(t(s, dir, "embeddings")).cache()
    try {
      val n = corpus.count()
      val srpCand = VectorFunctions.cosineNearDupBucketed(
        corpus, "vec_id", "embedding", dim = 64, threshold = -1.0,
        nBits = 8, bands = 4).count()
      val cents = VectorFunctions.ivfTrain(corpus, "embedding", dim = 64, k = 16)
      val kmCand = VectorFunctions.kmeansNearDupPairs(
        corpus, "vec_id", "embedding", dim = 64, threshold = -1.0, cents,
        probes = 1).count()
      Map(
        "sem_n" -> n,
        "sem_all_pairs" -> n * (n - 1) / 2,
        "q71_cand" -> srpCand,
        "q72_cand" -> kmCand)
    } finally { corpus.unpersist(); () }
  }
}
