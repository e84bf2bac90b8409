package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Corpus-scale deduplication operators: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Generalizes the reference's windowed exact-hash
  * `Deduplicator` middleware (reference:
  * message/router/middleware/deduplicator.go:64-126) to the
  * content-similarity family a training-data pipeline needs.
  *
  * Scale notes (the 100 TB story):
  *  - every op here is a pure shuffle-by-key plan: no driver state, no
  *    collect, no O(N²) cross join;
  *  - candidate generation is always hash-bucketed (LSH bands /
  *    shared-shingle inverted index), so the shuffle carries candidate
  *    pairs, not the full pair space;
  *  - `portable = true` switches the hash family to md5-prefix longs so
  *    an external engine (the DuckDB oracle) can reproduce results
  *    bit-for-bit; production default is xxhash64 (faster, codegen'd).
  */
object DedupFunctions {

  /** Exact dedup: keep the lowest-id row per content hash. One shuffle
    * on the hash; map-side partial aggregation applies. NULL text is
    * skipped: contentHash(null) is null and GROUP BY collects nulls
    * together, so a corrupted feed's null-text docs would otherwise
    * report as ONE giant duplicate set with a keeper — and a pipeline
    * acting on it would delete all but one of them. Null text is
    * absence of content, not equal content (empty strings DO dedup:
    * md5('') is a real hash). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(Hashes.contentHash(col(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Affine MinHash family over pre-hashed shingles: hᵢ(x) = (aᵢ·x + bᵢ)
    * mod p with p = 2^31−1 and deterministic aᵢ, bᵢ. The expensive
    * content hash runs ONCE per shingle ([[baseHashes]]); the k
    * permutations are integer multiply-adds over a long array. Inputs
    * are masked to 30 bits so aᵢ·x stays far below 2^63 (ANSI mode
    * throws on overflow). */
  private val MinhashP = 2147483647L // 2^31 - 1, prime

  def minhashSignatureFromHashes(hashedCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      val a = 1000003L * i + 12289L
      val b = 7919L * i + 104729L
      array_min(transform(hashedCol, h => pmod(lit(a) * h + lit(b), lit(MinhashP))))
    }: _*)

  /** One content hash per shingle, masked to 30 bits. `portable` uses
    * the md5-prefix long (bit-reproducible in the DuckDB oracle);
    * production uses xxhash64. */
  def baseHashes(shingleCol: Column, portable: Boolean): Column =
    transform(shingleCol, s =>
      (if (portable) Hashes.md5Long(s) else xxhash64(s)).bitwiseAND(lit(0x3fffffffL)))

  /** LSH banding: split the k-length signature into bands of `r` rows;
    * docs sharing any band are candidates. Emits (doc, band, band_key)
    * rows — the join key that replaces the O(N²) pair space. Band keys
    * are built positionally from the signature array (element_at is
    * 1-based), never via collect_list, so they are deterministic. */
  /** @param keepSig carry the signature column through the explode.
    *   A consumer needing (band rows AND the signature) must use this
    *   instead of joining the band rows back onto the signature frame:
    *   that join references the signature subtree on BOTH shuffle
    *   sides, so an unmaterialized upstream (a foreachBatch caller's
    *   batch source) is scanned twice — the double-evaluation class
    *   StreamingNearDup's single-evaluation probe row pins. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, k: Int, r: Int,
      keepSig: Boolean = false): DataFrame = {
    // k must split evenly into bands: integer division would silently
    // drop the trailing k % r signature elements, quietly lowering
    // candidate recall below what the configured k implies
    require(r > 0 && k % r == 0,
      s"signature length k=$k must be a positive multiple of band rows r=$r")
    val nBands = k / r
    val carried = if (keepSig) Seq(col(sigCol)) else Nil
    df.select((col(idCol) +: carried) :+ explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until r).map(j =>
          element_at(col(sigCol), b * r + j + 1).cast("string")): _*).as("band_key"))
    }: _*)).as("x"): _*)
      .select((col(idCol) +: carried) ++
        Seq(col("x.band"), col("x.band_key")): _*)
  }

  /** MinHash-LSH candidate pairs: distinct (d1 < d2) doc pairs sharing
    * at least one LSH band. The self-join shuffles on (band, band_key)
    * — at 100 TB the band key is the partitioner, and hot buckets
    * (boilerplate docs) are the skew risk; cap with `maxBucket`. */
  /** The full doc→signature pipeline: words materialize once, THEN
    * shingle — the HOF lambda must capture an attribute, not the split
    * tree (see TextFunctions.shinglesFromWords perf note). The
    * empty-doc guard filters on size(w) >= n (equivalent to
    * size(shingles) > 0 but CHEAP): a filter on the shingle array
    * would be pushed below the projection and re-evaluate the whole
    * HOF expression per row. */
  /** Widen a narrow relation before compute-heavy per-row work. A
    * small-SF parquet table scans as ONE partition (single row group),
    * so every tokenize/shingle/hash pipeline fused onto the scan runs
    * single-threaded no matter how many cores are idle. Repartition
    * ONLY when the input has fewer partitions than the session's
    * default parallelism — at production scale the file count already
    * exceeds the core count and this is the identity (the shuffle the
    * scaladocs warn about never happens); below it, one narrow
    * exchange of the pruned projection buys full-width compute.
    * Deterministic (round-robin repartition sorts before assigning,
    * SPARK-23207) and partitioning-invariant for every caller (their
    * aggregations/joins are key-based).
    *
    * PRECONDITION (enforced, not just documented): the input must be a
    * scan-shaped plan — projections/filters over leaf relations. The
    * width probe (`df.rdd.getNumPartitions`) finalizes a physical plan,
    * and under AQE that EAGERLY EXECUTES any upstream shuffle stages as
    * real jobs which are then thrown away when the actual query
    * re-plans (the r20 ADVICE hazard). For scan-shaped plans there are
    * no exchanges, so the probe is free; for anything else widen() is
    * the identity — a derived frame either already went through an
    * exchange (so it is as wide as its shuffle partitioning chose) or
    * the caller must widen the scan side explicitly before deriving. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    if (!scanShaped(df.queryExecution.logical)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** True when the plan is projections/filters/unions over leaves only
    * — the shapes whose physical planning cannot contain an exchange,
    * so probing `df.rdd` cannot trigger eager AQE stage execution.
    * (Union is exchange-free: it concatenates child partitions — the
    * planted-dup corpora q71/q72 feed through here.) */
  private[graft] def scanShaped(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Project | _: Filter | _: SubqueryAlias | _: Union =>
        p.children.forall(scanShaped)
      case _: LeafNode => true
      case _ => false
    }
  }

  private def minhashSignatures(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, portable: Boolean): DataFrame = {
    val sh = widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.words(col(textCol)).as("w"))
      .filter(size(col("w")) >= shingleN)
      .select(col(idCol), TextFunctions.shinglesFromWords(col("w"), shingleN).as("s"))
    val hashed = sh.select(col(idCol), baseHashes(col("s"), portable).as("hs"))
    hashed.select(col(idCol), minhashSignatureFromHashes(col("hs"), k).as("sig"))
  }

  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, r: Int, portable: Boolean,
      maxBucket: Int = 1000): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleN, k, portable)
    val bands = lshBands(sig, idCol, "sig", k, r)
    // The signature subtree (k hashes × shingles per doc — the
    // expensive part) is referenced EXACTLY ONCE: one shuffle groups
    // bucket members, then intra-bucket pairs come from a double
    // explode. A bands-self-join would reference the subtree from both
    // sides (and from the skew-count) — Catalyst re-evaluates each
    // reference, and AQE's broadcast conversion defeats exchange reuse,
    // so the self-join form recomputed the signatures up to 4×.
    // The size cap is the skew guard (boilerplate buckets) and bounds
    // the per-bucket pair blow-up at maxBucket². Collection is CAPPED
    // at the aggregation buffer (BoundedCollect): a degenerate bucket
    // of millions of members costs O(maxBucket) memory, never a
    // non-spillable multi-million-element collect_list that the size
    // filter would discard anyway. Integral ids collect as longs;
    // every other id type is cast to string and collected via the
    // capped string collector (so d1/d2 come back as strings for
    // non-integral, non-string ids — documented, and the common
    // uuid-string case is unchanged).
    bandPairs(bands, idCol, maxBucket)
  }

  /** THE group-then-double-explode pair generator: (d1 < d2) pairs of
    * ids sharing a bucket, ONE shuffle on the bucket key, members
    * collected through the CAPPED collector (integral ids as longs,
    * anything else as strings — a blanket long cast NULLs uuid-style
    * ids and silently returns zero pairs), over-cap buckets dropped
    * entirely (boilerplate skew guard). Shared by every bucketed
    * candidate generator — MinHash bands, Hamming chunks, SRP bands,
    * k-means cells — so the id-type and cap semantics cannot diverge
    * between copies again. `dedup = false` skips the final distinct
    * when each pair can appear at most once (single-assignment
    * bucketing). */
  private[functions] def bucketPairs(rows: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucket: Int, dedup: Boolean = true): DataFrame = {
    val memberAgg =
      if (idIsIntegralType(rows, idCol))
        BoundedCollect.longs(col(idCol).cast("long"), maxBucket)
      else BoundedCollect.strings(col(idCol).cast("string"), maxBucket)
    // The double explode blows each m-member bucket row up to m² pair
    // rows, but AQE sizes the post-agg stage by the AGG output bytes
    // (one array row per bucket — tiny), so it coalesces the stage the
    // explosion runs in down to one or two tasks and the whole
    // quadratic pair generation runs serially (measured: q49's pair
    // stage was ONE 1.5 s task on 32 idle cores). A keyless
    // round-robin repartition of the bucket rows — pinned to the
    // session's default parallelism, so AQE cannot re-coalesce it —
    // spreads buckets evenly across tasks; per-task work stays bounded
    // by maxBucket² (the existing skew cap), and the shuffle moves
    // only the capped member arrays, never pair space.
    val spread = rows.sparkSession.sparkContext.defaultParallelism
    val pairs = rows.groupBy(bucketCols.map(col): _*)
      .agg(memberAgg.as("members"))
      .filter(size(col("members")) >= 2 && size(col("members")) <= maxBucket)
      .repartition(spread)
      .select(explode(col("members")).as("d1"), col("members"))
      .select(col("d1"), explode(col("members")).as("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    if (dedup) pairs.distinct() else pairs
  }

  private def bandPairs(bands: DataFrame, idCol: String,
      maxBucket: Int): DataFrame =
    bucketPairs(bands, Seq("band", "band_key"), idCol, maxBucket)

  /** LSH candidates WITH the signature-agreement Jaccard estimate —
    * the verify half that completes the MinHash pipeline (candidates →
    * estimate → threshold): est(J) = agree/k where `agree` counts
    * matching signature positions. Emitted as the EXACT integer
    * `agree` (gate on `agree >= ceil(t*k)`, never on the double) —
    * the integer-rational threshold discipline.
    *
    * Scale shape: signatures materialize ONCE (eager
    * `localCheckpoint()` — three consumers: banding and both join
    * sides; k longs per doc, the rows an index build would persist
    * anyway; a lost executor fails the job, which is re-run);
    * candidate pairs come from [[bandPairs]]' one grouped shuffle; the
    * estimate is two hash joins carrying k-long arrays plus a
    * row-local zip_with fold — never a shingle-set intersection (the
    * full sets stay unshuffled). */
  def minhashEstimates(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, r: Int, portable: Boolean,
      maxBucket: Int = 1000, minAgree: Int = 0): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleN, k, portable)
      .localCheckpoint()
    val pairs = bandPairs(lshBands(sig, idCol, "sig", k, r), idCol, maxBucket)
    // join keys must match bandPairs' member type: longs for integral
    // ids, strings otherwise (a blanket long cast would NULL every
    // uuid-style id and silently return zero estimates)
    val keyType = if (idIsIntegralType(sig, idCol)) "long" else "string"
    pairs
      .join(sig.select(col(idCol).cast(keyType).as("d1"), col("sig").as("_s1")),
        Seq("d1"))
      .join(sig.select(col(idCol).cast(keyType).as("d2"), col("sig").as("_s2")),
        Seq("d2"))
      .withColumn("agree", agree(col("_s1"), col("_s2")))
      .filter(col("agree") >= minAgree)
      .select(col("d1"), col("d2"), col("agree"))
  }

  /** Native per-pair signature agreement count
    * ([[VecUtil.agreeCount]]) — the composed zip_with/aggregate form
    * re-entered interpreted lambdas once per signature position per
    * candidate pair; values are bit-identical (DedupPropertySpec pins
    * native == composed). */
  private[graft] def agree(a: Column, b: Column): Column =
    Kernel.static(VecUtil, "agreeCount", LongType,
      a -> ArrayType(LongType), b -> ArrayType(LongType))

  /** The composed-HOF agreement form, kept ONLY for the equivalence
    * test pinning [[agree]]. */
  private[graft] def agreeComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)

  /** The durable MinHash band index of a corpus slice: one
    * (band, band_key, id) row per band of each doc's signature, with
    * over-cap buckets REMOVED at build time (a bucket larger than
    * `maxBucket` is boilerplate — the same skew rationale as
    * [[minhashCandidates]], applied once when the index is built so
    * every later lookup against it is bounded).
    *
    * This is the persisted half of INCREMENTAL dedup (the restartable
    * batch form of [[graft.streaming.StreamingNearDup]]): write this
    * relation out partitioned/bucketed by (band, band_key), append
    * each accepted slice's bands, and dedup new slices via
    * [[incrementalCandidates]] — the accepted corpus's TEXT is never
    * re-scanned, only its kilobyte-per-doc band rows are joined. */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, r: Int, portable: Boolean,
      maxBucket: Int = 1000): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleN, k, portable)
    val bands = lshBands(sig, idCol, "sig", k, r)
    // build-time cap: count members per bucket over THIS slice and
    // drop over-cap buckets entirely. Window-count over one (band,
    // band_key) shuffle — no join-back, no second scan of the bands.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_key"))
    bands.withColumn("_n", count(lit(1)).over(w))
      .filter(col("_n") <= maxBucket)
      .select(col("band"), col("band_key"), col(idCol))
  }

  /** Incremental near-dup candidates for a NEW slice against a FROZEN
    * stored band index (plus within the slice itself): the production
    * shape of continuous-ingestion dedup. Returns distinct (d1 < d2)
    * pairs where at least one side is a new doc; the other side is
    * either an already-accepted doc (matched through the stored index
    * — its text is NEVER read) or an earlier doc of the same slice.
    *
    * Scale shape: the new slice is shingled/hashed ONCE into capped
    * band rows ([[minhashBandIndex]] build rules, so both sides of
    * every bucket are bounded); new-vs-old candidates come from ONE
    * equi-join on (band, band_key) — with the index stored bucketed by
    * band_key, only the new slice's bands move; new-vs-new candidates
    * reuse the grouped-bucket pair generation. The new bands relation
    * MATERIALIZES EAGERLY (localCheckpoint): it has two
    * consumers (index join + self-pairs) which would otherwise re-run
    * the whole shingle/hash pipeline per reference, and the
    * materialized rows are exactly what a caller appends to the stored
    * index after accepting the slice — so the returned frame's plan
    * provably contains NO document-text scan (PlanShapeSpec pins
    * this). The pin truncates lineage: a lost executor fails the job,
    * which is re-run.
    *
    * `index` must carry (band, band_key, `idCol`) with the SAME
    * (shingleN, k, r, portable, maxBucket) configuration it was built
    * with — band keys are positional in the signature, so mixed
    * configurations silently miss candidates.
    */
  def incrementalCandidates(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleN: Int, k: Int, r: Int,
      portable: Boolean, maxBucket: Int = 1000): DataFrame = {
    val nb = minhashBandIndex(newDocs, idCol, textCol,
      shingleN, k, r, portable, maxBucket).localCheckpoint()
    val oldPairs = nb
      .join(index.select(col("band"), col("band_key"),
        col(idCol).as("_acc_id")), Seq("band", "band_key"))
      .filter(col("_acc_id") =!= col(idCol))
      .select(least(col(idCol), col("_acc_id")).as("d1"),
        greatest(col(idCol), col("_acc_id")).as("d2"))
    val newPairs = bandPairs(nb, idCol, maxBucket)
    oldPairs.unionByName(newPairs).distinct()
  }

  /** (doc_id, s): each doc's word `shingleN`-grams hashed to 64-bit
    * longs, pinned — both exact joins read it four times. ONE site for
    * both joins: given the same docs and `shingleN` they pin the same
    * plan, which the cache manager keeps as one entry, so a site per
    * join would hold that entry under two handles (the second persist
    * a no-op, and either release evicting the other's pin). */
  private def pinnedShingles(input: DataFrame, shingleN: Int): DataFrame =
    graft.operators.Materialize.SitePin("DedupFunctions.shingles")(input
      .select(col("doc_id"), TextFunctions.words(col("_text")).as("w"))
      .filter(size(col("w")) >= shingleN)
      .select(col("doc_id"), TextFunctions.shinglesFromWords(col("w"), shingleN).as("ss"))
      .select(col("doc_id"), transform(col("ss"), x => xxhash64(x)).as("s")))

  /** Exact n-gram Jaccard similarity join with PREFIX FILTERING (the
    * PPJoin family): for threshold t, any pair with jaccard >= t must
    * share a shingle within each doc's first `n - ceil(t*n) + 1`
    * shingles under a global rare-first ordering. So we:
    *   1. compute global shingle frequencies (one shuffle),
    *   2. index only each doc's prefix shingles (rare-first order),
    *   3. generate candidate pairs from the prefix inverted index,
    *   4. verify exactly with array_intersect on the full shingle sets.
    * Exact — 100% recall at the threshold — but the candidate shuffle
    * carries ~t-fraction of the postings instead of all of them, which
    * is what makes this survive a corpus whose vocabulary is small
    * relative to the doc count (every naive inverted index degenerates
    * to all-pairs there). No driver state; three shuffles total.
    */
  /** @param minPartitions when set, repartition the pruned (id, text)
    *   projection to at least this parallelism before the shingle/hash
    *   work. A small input scans as ONE partition (PLANS.md #4) and the
    *   compute-heavy tokenize+hash pipeline runs single-threaded on top;
    *   the shuffle moves only the pruned two columns, once. Leave None
    *   at scale — file count already provides parallelism. */
  def jaccardSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double,
      minPartitions: Option[Int] = None): DataFrame = {
    // size(w) >= n guard instead of size(s) > 0: equivalent, but does
    // not re-evaluate the shingle HOF in a pushed-down filter.
    // Shingles are hashed to 64-bit longs immediately: the shingle
    // CONTENT never reaches the output, so every downstream shuffle
    // (postings, inverted index, candidate pairs) and the verify-stage
    // array_intersect run over 8-byte longs instead of word strings.
    // Collision odds at 2^64 are negligible against any real corpus
    // slice's distinct-shingle count.
    // The shingle relation is PINNED (a SitePin: memory-and-disk,
    // spillable, one live entry per site however many calls run in a
    // session): the algorithm is inherently multi-pass — postings feed
    // the frequency count and the prefix index, and both
    // verification-join sides read the full sets — and recomputing
    // scan+split+shingle+hash per pass is strictly worse at any scale.
    // The hashed shingles are deterministic, so the lazy pin is safe.
    val pruned = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
    // minPartitions pins the width explicitly; unset, widen() adapts —
    // a single-row-group small-SF scan otherwise runs the whole
    // shingle+hash pipeline (AND every post-persist pass, which reads
    // the cache at the same width) on 1-2 tasks (measured: two ~850 ms
    // 2-task stages inside q81 on 32 idle cores). At scale the file
    // count exceeds the core count and widen() is the identity.
    val input = minPartitions.fold(widen(pruned))(n => pruned.repartition(n))
    val sh = pinnedShingles(input, shingleN)
    val ex = sh.select(col("doc_id"), size(col("s")).as("n"), explode(col("s")).as("t"))
    val freq = ex.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // rare-first prefix per doc, array-native: regroup the doc's
    // postings, sort by (df, t) — array_sort's struct ordering matches
    // the old Window orderBy — and slice the first n - ceil(t*n) + 1.
    // One linear reference chain; the previous per-doc row_number
    // Window fed a prefix SELF-join whose two sides each re-evaluated
    // the whole postings pipeline (scan+shingle+freq-join+window).
    // RATIONAL integer threshold arithmetic in both PRUNING stages
    // (prefix length, length filter) — a double `n * t` can round a
    // hair above an exact integer boundary (0.8 is really 0.8000…044)
    // and silently shrink the prefix / drop a boundary pair, breaking
    // the 100%-recall contract. Same hardening as containmentJoin.
    // The final VERIFY filter stays the double form on purpose: it is
    // the semantic filter and must match the oracle's expression
    // bit-for-bit; the pruning stages only affect recall, and the
    // integer forms can only widen the candidate set.
    // FLOOR, not round: round can land ABOVE the caller's double
    // threshold (t = 6/7 rounds 857142.857… up to 857143), making the
    // pruning stages STRICTER than the verify filter — a true boundary
    // pair (jaccard exactly 6/7) would be pruned before verification,
    // breaking the 100%-recall contract. floor(t·1e6)/1e6 <= t always,
    // so both pruning stages stay necessary-condition-exact.
    val tMicro = math.floor(threshold * 1e6).toLong
    val prefix = ex.join(freq, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n"), collect_list(struct(col("df"), col("t"))).as("ps"))
      .select(col("doc_id"), col("n"),
        slice(array_sort(col("ps")), lit(1),
          (col("n") - expr(s"(n * ${tMicro}L + 999999L) div 1000000L") + 1)
            .cast("int")).as("pre"))
      .select(col("doc_id"), col("n"), explode(col("pre")).as("p"))
      .select(col("doc_id"), col("n"), col("p.t").as("t"))
    // candidates: intra-bucket pairs of the prefix inverted index —
    // grouped once, pairs by double explode (no self-join recompute) —
    // pruned by the PPJoin LENGTH filter before they reach the verify
    // join: jaccard >= t REQUIRES min(n1,n2) >= t*max(n1,n2) (the
    // smaller set fully contained still leaves union >= max), so the
    // filter is necessary-condition-exact — recall stays 100%.
    // Measured at sf0.1/t=0.8 (PLANS.md q19 breakdown): 118,649 raw candidates ->
    // 43,440 after the length filter (2.7x fewer array_intersect
    // verifications for the same 256 true matches; q19 warm run
    // 4.1-4.6 s -> 2.5-2.8 s). No bucket cap here: a cap would
    // silently drop true matches.
    val cand = prefix.groupBy(col("t"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("x1"), col("ds"))
      .select(col("x1"), explode(col("ds")).as("x2"))
      .filter(col("x1.doc_id") < col("x2.doc_id"))
      .filter(col("x1.n") * lit(1000000L) >= col("x2.n") * lit(tMicro) &&
        col("x2.n") * lit(1000000L) >= col("x1.n") * lit(tMicro))
      .select(col("x1.doc_id").as("d1"), col("x2.doc_id").as("d2")).distinct()
    // exact verification on full shingle sets
    val s1 = sh.select(col("doc_id").as("d1"), col("s").as("s1"), size(col("s")).as("n1"))
    val s2 = sh.select(col("doc_id").as("d2"), col("s").as("s2"), size(col("s")).as("n2"))
    cand.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("shared", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT join — the asymmetric near-dup relation
    * Jaccard misses: d1 is (mostly) contained in d2 when
    * |S1 ∩ S2| / |S1| >= t, regardless of how much larger d2 is (a
    * quote inside an article, a doc re-posted with boilerplate
    * appended — the RefinedWeb/Dolma-style sub-document duplication
    * signal). Same prefix-filter machinery as
    * [[jaccardSimilarityJoin]], adapted to the one-sided threshold:
    *   - an overlap of ceil(t*n1) forces a hit within d1's first
    *     n1 - ceil(t*n1) + 1 rare-first shingles (pigeonhole), so only
    *     d1's PREFIX is indexed — but the probe side must carry d2's
    *     FULL postings (containment puts no lower bound on how deep
    *     into d2's rare-first order the shared shingles sit);
    *   - the one-way length filter n2 >= t*n1 (overlap <= min(n1,n2))
    *     prunes candidates where the "container" is too small.
    * Threshold comparisons use RATIONAL integer arithmetic
    * (x * 1e6 >= y * round(t*1e6)) — a double `n1 * t` that rounds a
    * hair above an exact integer boundary would silently drop a pair
    * sitting exactly at the threshold. Directed output (d1 contained
    * in d2), integer evidence columns (shared, n1, n2) so the gate
    * never divides. Three shuffles, no driver state, exact — 100%
    * recall at the threshold. */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double,
      minPartitions: Option[Int] = None): DataFrame = {
    // FLOOR, not round — the jaccardSimilarityJoin contract (see its
    // tMicro note): round can land ABOVE the caller's threshold
    // (t = 6/7 rounds 857142.857… up to 857143), and since HERE the
    // integer form is the final gate too, a pair sitting exactly AT
    // the threshold would be silently dropped — in the prefix pruning
    // and the verify filter alike. floor(t·1e6) <= t·1e6 always, so
    // the gate is never stricter than the advertised threshold.
    val thrNum = math.floor(threshold * 1e6).toLong
    val pruned = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
    // same width discipline as jaccardSimilarityJoin (see its note)
    val input = minPartitions.fold(widen(pruned))(n => pruned.repartition(n))
    val sh = pinnedShingles(input, shingleN)
    val ex = sh.select(col("doc_id"), size(col("s")).as("n"), explode(col("s")).as("t"))
    val freq = ex.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // prefix length n - ceil(t*n) + 1, ceil as exact integer division
    val prefixLen = expr(s"cast(n - ((n * ${thrNum}L + 999999) div 1000000) + 1 as int)")
    val prefix = ex.join(freq, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n"), collect_list(struct(col("df"), col("t"))).as("ps"))
      .select(col("doc_id"), col("n"),
        slice(array_sort(col("ps")), lit(1), prefixLen).as("pre"))
      .select(col("doc_id"), col("n"), explode(col("pre")).as("p"))
      .select(col("doc_id").as("d1"), col("n").as("n1"), col("p.t").as("t"))
    val index = ex.select(col("doc_id").as("d2"), col("n").as("n2"), col("t"))
    val cand = prefix.join(index, Seq("t"))
      .filter(col("d1") =!= col("d2"))
      .filter(col("n2") * 1000000L >= col("n1") * thrNum)
      .select(col("d1"), col("d2")).distinct()
    val s1 = sh.select(col("doc_id").as("d1"), col("s").as("s1"), size(col("s")).as("n1"))
    val s2 = sh.select(col("doc_id").as("d2"), col("s").as("s2"), size(col("s")).as("n2"))
    cand.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("shared", size(array_intersect(col("s1"), col("s2"))))
      .filter(col("shared") * 1000000L >= col("n1") * thrNum)
      .select(col("d1"), col("d2"), col("shared").cast("long").as("shared"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"))
  }

  /** 64-bit SimHash over tokens: per bit, sum ±1 votes weighted by the
    * token hash's bit value; the sign vector packs into a long. Near
    * duplicates differ in few bits (small Hamming distance). Single
    * custom-Expression pass ([[Hashes.simhash64]]) — the previous
    * composed form re-walked the token array 64 times. */
  def simhash64(tokensCol: Column): Column = Hashes.simhash64(tokensCol)

  /** The composed-expression reference implementation (64 `aggregate`
    * folds) — kept for the equivalence test that pins the custom
    * Expression to the same bit pattern; do not use in query paths. */
  private[graft] def simhash64Composed(tokensCol: Column): Column = {
    val hashed = transform(tokensCol, t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val votes = aggregate(hashed, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Oracle-portable 60-bit SimHash over pre-hashed tokens (the
    * md5-prefix family — [[Hashes.md5Long]] per token, materialized by
    * the caller in its own projection). Same sign-of-votes semantics
    * as [[simhash64]] (tie = bit clear); 60 bits because the portable
    * hash is a 15-hex-digit prefix. Unlike the 64-fold composed form,
    * this walks the token array ONCE: the vote vector is an
    * `aggregate` accumulator updated with `zip_with`, and variable bit
    * shifts (unavailable as column ops — `shiftright` takes a literal
    * count) become bitwise-AND against a literal powers array. Pure
    * column expressions, so the DuckDB oracle can reproduce the value
    * bit-for-bit. Production path stays [[simhash64]] (single custom
    * Expression); this is the cross-engine-verifiable twin, same
    * fast/portable split as minhash q31/q20. */
  private val Pow2To60: Column = array((0 until 60).map(b => lit(1L << b)): _*)

  def simhash60Portable(hashedCol: Column): Column =
    // native single pass (HashUtil.simhash60) — the composed HOF fold
    // below allocated three 60-wide arrays + ~180 interpreted lambda
    // re-entries per token and dominated q48's scan stage; values are
    // bit-identical (SimhashSpec pins native == composed, nulls and
    // empties included), so the DuckDB oracle is untouched
    Kernel.static(HashUtil, "simhash60", LongType, hashedCol -> ArrayType(LongType))

  /** The composed-HOF reference form, kept ONLY for the equivalence
    * test pinning [[simhash60Portable]] to the same bit
    * pattern (the dotComposed pattern). */
  private[graft] def simhash60Composed(hashedCol: Column): Column = {
    val votes = aggregate(hashedCol, array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc,
        transform(Pow2To60, p => when(h.bitwiseAND(p) === p, 1L).otherwise(-1L)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, Pow2To60, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** SimHash near-dup candidates: band the 64-bit simhash into
    * `maxHamming + 1` chunks — by pigeonhole, two hashes within
    * Hamming distance `maxHamming` agree on at least one full chunk —
    * and join per chunk. Default maxHamming = 3 → 4 × 16-bit chunks.
    * Same single-reference group-then-explode pair generation as the
    * MinHash path (no self-join recompute), with the same bounded
    * skew cap. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sh = docs.select(col(idCol),
      simhash64(TextFunctions.tokens(col(textCol))).as("sh"))
    hammingCandidates(sh, idCol, "sh", maxHamming, maxBucket)
  }

  /** Hamming-candidate generation over ANY precomputed 64-bit hash
    * column (the chunk-banding core of [[simhashCandidates]], shared
    * with image perceptual hashes — [[graft.multimodal.Multimodal
    * .imageNearDups]]): band the hash into `maxHamming + 1` chunks; by
    * pigeonhole, two hashes within distance `maxHamming` agree on at
    * least one full chunk. Same group-then-explode pair generation and
    * bounded skew cap as the MinHash path. Candidates only — callers
    * verify exact distance (`bit_count(h1 ^ h2)`) on the pairs. */
  def hammingCandidates(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming out of range")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val extra = 64 % nChunks // first `extra` chunks get one more bit
    val chunkCols = (0 until nChunks).map { c =>
      val start = c * base + math.min(c, extra)
      val width = base + (if (c < extra) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col(hashCol), start).bitwiseAND(lit(mask)).as("key"))
    }
    val chunks = hashes.select(col(idCol), explode(array(chunkCols: _*)).as("x"))
      .select(col(idCol), col("x.chunk"), col("x.key"))
    bucketPairs(chunks, Seq("chunk", "key"), idCol, maxBucket)
  }

  /** Duplicate-cluster resolution: candidate/verified pairs form a
    * graph; transitively-connected docs are one duplicate cluster and
    * the canonical keeper is the minimum id. Iterative min-label
    * propagation — each round every node adopts the smallest label in
    * its neighborhood (one groupBy per round, no driver-side graph) —
    * converging in O(cluster diameter) rounds; dup clusters in corpus
    * dedup are shallow (near-cliques from banding), so the default cap
    * is generous. Returns (doc_id, cluster_id = min reachable id).
    *
    * Each round is a neighbor-min step PLUS a pointer jump (every node
    * also adopts its current label's label), so the propagation reach
    * doubles per round and convergence is O(log diameter), not
    * O(diameter) — the default cap of 10 rounds covers diameters into
    * the hundreds. This matters beyond adversarial inputs: banding
    * emits near-cliques, but threshold graphs over embeddings (q44)
    * measured diameter 16 at sf0.1 — plain neighbor-min propagation
    * hit the round cap there and returned unconverged labels.
    *
    * At 100 TB each round is one shuffle of the (persisted) edge list
    * plus one label-sized self-join; labels never leave the cluster.
    * The rounds run under [[graft.operators.Iterate]], which pins,
    * clamps and frees each one and reads the convergence verdict
    * (`cluster_id =!= prev` on no row) from the pin's own job.
    *
    * @param strict when true, throw `IllegalStateException` if the
    *   round cap is hit before the labels reach a fixed point —
    *   unconverged labels under-merge clusters, and downstream
    *   [[keepers]] would silently keep extra "duplicates". Default
    *   false preserves the lenient log-and-return behavior for
    *   exploratory use; production dedup pipelines should pass true. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 10,
      strict: Boolean = false): DataFrame = {
    // undirected edge list + self-loops (so singletons keep their id
    // and every node appears even when it only shows up as d2).
    // All four edge directions come from ONE reference to `pairs` via
    // explode — a 4-way union would evaluate the upstream candidate
    // pipeline once per branch (Catalyst does not CSE across union
    // branches), quadrupling the expensive shingle/minhash/banding work.
    // localCheckpoint (eager), not persist: every round joins against
    // the edge list, and a persisted frame keeps its full candidate-
    // pipeline LOGICAL tree, which the analyzer would re-walk per
    // reference per round. The checkpoint leaf makes each round's
    // analyzed plan constant-sized; executor-local durability is the
    // documented trade.
    val edges = pairs
      .select(explode(array(
        struct(col("d1").as("a"), col("d2").as("b")),
        struct(col("d2").as("a"), col("d1").as("b")),
        struct(col("d1").as("a"), col("d1").as("b")),
        struct(col("d2").as("a"), col("d2").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .localCheckpoint(true)
    // init IS the first propagation round: every node takes the min id
    // of its closed neighborhood (self-loops included), which already
    // converges the near-cliques banding emits — so the loop usually
    // runs exactly once, as the confirming round.
    val init = edges.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("cluster_id"))
      .persist()
    // pointer jump: adopt this round's label's label, doubling reach
    // per round. The jump can only lower a label, so the fixed point is
    // unchanged; if nothing changed this round, neighbor-min alone
    // changed nothing either, so the convergence check stays sound.
    def jump(d: DataFrame): DataFrame = d
      .join(d.select(col("doc_id").as("j_doc"), col("cluster_id").as("j_cl")),
        col("cluster_id") === col("j_doc"), "left")
      .select(col("doc_id"),
        least(col("cluster_id"),
          coalesce(col("j_cl"), col("cluster_id"))).as("cluster_id"),
        col("prev"))
    try {
      val labels = graft.operators.Iterate("dupClusters", init, maxIter,
          Some(col("cluster_id") =!= col("prev")), strict) { (cur, round) =>
        // Each node takes the min of its neighbors' labels. The node's
        // PREVIOUS label rides the self-loop row (b === a carries
        // labels[a]), so the convergence check is a filter over this
        // round's own output — no extra join, no per-round compare job
        // re-reading the lineage.
        val prop = round.cache(edges
          .join(cur.select(col("doc_id").as("b"), col("cluster_id")), Seq("b"))
          .groupBy(col("a").as("doc_id"))
          .agg(min(col("cluster_id")).as("cluster_id"),
            min(when(col("b") === col("a"), col("cluster_id"))).as("prev")))
        // `prop` is self-joined, hence cached: two plan references
        // would re-run the propagation join. ADAPTIVE jump depth: reach
        // ×2 in the first round, ×4 (a second jump) from round 2 on.
        // Banding emits near-cliques that converge in 1-2 rounds — for
        // those the second self-join is pure per-round overhead
        // (measured: q33/q71/q72 regressed 30-60% under an
        // unconditional double jump) — while a graph still unconverged
        // after the first round is the chain-heavy class (q44 measured
        // diameter 16 at sf0.1) where halving the remaining rounds
        // wins. Each extra self-join reference would square the size
        // estimate the next checkpoint leaf inherits; the driver's
        // stats clamp removes that compounding at any jump depth.
        if (round.index == 0) jump(prop) else jump(jump(prop))
      }
      // maxIter <= 0 ran no round, so the labels still read through
      // `edges`: pin them before the edge list is freed
      (if (maxIter > 0) labels
       else try labels.localCheckpoint(true) finally labels.unpersist())
        .select(col("doc_id"), col("cluster_id"))
    } finally graft.operators.Iterate.free(edges)
  }

  /** Keeper selection over [[dupClusters]]: one row per cluster with
    * the canonical (minimum-id) keeper and the cluster size. */
  def keepers(pairs: DataFrame, maxIter: Int = 10,
      strict: Boolean = false): DataFrame =
    dupClusters(pairs, maxIter, strict)
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("cluster_size"))

  /** Passage-level exact dedup — the sub-document analogue of
    * [[exactDedup]] (Dolma/RefinedWeb-style paragraph dedup, adapted to
    * single-line corpora: consecutive `passageTokens`-token windows
    * stand in for paragraphs). Each distinct passage survives only at
    * its globally-first occurrence (minimal `(docId, position)`); every
    * document is then reassembled from its surviving passages in
    * original order.
    *
    * Output: `(doc_id, n_passages, n_kept, kept_fp)` where `kept_fp`
    * is the md5 of the reassembled text (empty-string md5 when every
    * passage of the document occurred earlier elsewhere).
    *
    * Scale shape: two hash-partition shuffles — (1) repartition by the
    * passage's 128-bit md5 and pick each hash group's first occurrence
    * with a partition-wide window `min` (NOT a groupBy + join-back:
    * that plan references the tokenize/explode subtree from two plan
    * branches, and Catalyst re-computes it per reference — the
    * `.explain` showed the corpus scanned and hashed twice), then (2)
    * regroup by doc for reassembly. The passage text crosses the wire
    * once; window groups are per-duplicate-set, so the window buffer
    * is the duplicate multiplicity, never a corpus-sized frame. No
    * driver state. */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
      passageTokens: Int = 10): DataFrame = {
    val w = widen(docs.select(col(idCol).as("doc_id"), col(textCol).as("_text")))
      .select(col("doc_id"), TextFunctions.tokens(col("_text")).as("w"))
      .filter(size(col("w")) > 0)
    // consecutive fixed-width windows; the tail passage may be shorter.
    // Tokenization runs ONCE: the passage rows are the only reference
    // to `w` (re-joining back to `w` for per-doc totals would re-run
    // the regex per doc — the totals ride along each row instead).
    val passages = w
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(w) - 1) div $passageTokens")),
          i => concat_ws(" ",
            slice(col("w"), i * passageTokens + 1, lit(passageTokens))))))
      .toDF("doc_id", "pos", "passage")
    val hashed = passages
      .select(col("doc_id"), col("pos"), col("passage"),
        md5(col("passage").cast("binary")).as("ph"))
    // winner flag inline: partition-wide window min over the hash
    // group — single reference to the tokenize/explode subtree, one
    // scan of the corpus
    val flagged = hashed
      .withColumn("first", min(struct(col("doc_id"), col("pos")))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("ph"))))
      .withColumn("keep",
        col("first.doc_id") === col("doc_id") && col("first.pos") === col("pos"))
    flagged
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // deterministic reassembly: collect surviving (pos, passage)
        // (collect_list drops the nulls the `when` leaves for losers),
        // sort by pos (unique per doc -> total order), join
        md5(concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("passage"))))),
          s => s.getField("passage"))).cast("binary")).as("kept_fp"))
  }

  /** Exact duplicated-SPAN detection: the maximal runs of consecutive
    * word positions whose k-gram occurs in ≥ `minDocs` documents — the
    * distributed analogue of suffix-array exact-substring dedup (Lee et
    * al. '22, "Deduplicating Training Data Makes Language Models
    * Better"): instead of one machine's suffix array, k-gram → doc
    * frequency is ONE shuffle, membership rides back on a join, and
    * runs condense per-document with a gaps-and-islands window (bounded
    * by document length, never by corpus size). Spans of ≥
    * `minRun` consecutive duplicated k-grams cover exactly the
    * substrings of ≥ k+minRun−1 shared words.
    *
    * Output: (idCol, start_pos, end_pos, n_grams) — 1-based inclusive
    * WORD positions of the duplicated span.
    *
    * The doc-frequency shuffle and membership join key on
    * `xxhash64(gram)` — an 8-byte key instead of a ~5-word string, so
    * the widest shuffle carries longs (semantics identical modulo
    * 2⁻⁶⁴ hash collisions; at 10⁹ grams the union-bound odds of any
    * collision are ~10⁻², of one CHANGING a span ~0 since colliding
    * grams must also land in overlapping documents — and the q126
    * gate's corpus is 10⁵ grams, where the odds are ~10⁻⁹).
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      minDocs: Int = 2,
      minRun: Int = 3): DataFrame =
    // widen the pruned projection before the gram explode: on a
    // single-row-group small-SF scan the whole tokenize+k-gram+hash
    // pipeline otherwise runs in one task (see widen)
    spanRuns(widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.words(col(textCol)).as("_w")),
      idCol, k, minDocs, minRun)

  /** [[duplicateSpans]] body over a pre-built (idCol, _w) word frame —
    * the entry point [[scrubDuplicateSpans]] uses so its single
    * checkpointed words pass feeds span detection, content hashing,
    * and the rebuild without re-tokenizing per branch. */
  private def spanRuns(
      words: DataFrame,
      idCol: String,
      k: Int,
      minDocs: Int,
      minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && minDocs >= 2 && minRun >= 1)
    val grams = words
      .filter(size(col("_w")) >= k) // cheap guard BEFORE the transform
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("_w")) - (k - 1)),
        i => struct(i.as("pos"), concat_ws(" ",
          (0 until k).map(j => element_at(col("_w"), i + j)): _*).as("gram"))))
        .as("_e"))
      .select(col(idCol), col("_e.pos").as("_pos"),
        xxhash64(col("_e.gram")).as("_gk"))
    // doc-frequency WITHOUT a second scan: both windows ride one
    // explicit gram-hash exchange (hash(_gk) satisfies the clustered
    // distribution of BOTH partition specs, so neither window re-
    // shuffles — a groupBy+join formulation would scan and explode the
    // corpus twice and shuffle three times)
    val wGD = Window.partitionBy(col("_gk"), col(idCol)).orderBy(col("_pos"))
    val wG = Window.partitionBy(col("_gk"))
    grams.repartition(col("_gk"))
      .withColumn("_first",
        when(row_number().over(wGD) === 1, 1L).otherwise(0L))
      .withColumn("_ndocs", sum(col("_first")).over(wG))
      .filter(col("_ndocs") >= minDocs)
      .withColumn("_grp", col("_pos") - row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("_pos"))))
      .groupBy(col(idCol), col("_grp"))
      .agg(
        min(col("_pos")).cast("long").as("start_pos"),
        (max(col("_pos")) + (k - 1)).cast("long").as("end_pos"),
        count(lit(1)).as("n_grams"))
      .filter(col("n_grams") >= minRun)
      .select(col(idCol), col("start_pos"), col("end_pos"), col("n_grams"))
  }

  /** Duplicated-span SCRUB — the removal action [[duplicateSpans]]
    * detects: spans are grouped by their exact word content (md5), the
    * EARLIEST document (min id) keeps its copy, and every other
    * occurrence is cut out word-wise, preserving the surrounding text —
    * Lee et al. '22's "remove the duplicated substring, keep one
    * occurrence" policy, distributed.
    *
    * Output: (idCol, n_words, n_removed, clean) — original word count,
    * words removed, and the scrubbed text (words at uncovered
    * positions rejoined with single spaces; a fully-covered document
    * scrubs to the empty string, it is not dropped — dropping is a
    * policy the caller applies).
    *
    * Scale shape: [[duplicateSpans]]'s two shuffles, plus one groupBy
    * on the span-content hash (span-count-sized, not corpus-sized), a
    * removal-interval join back to the documents, and a per-row
    * array rebuild — interval lists are per-doc and tiny, so the
    * position filter is row-local work inside the scan stage. The
    * word-array projection is consumed by three plan branches (span
    * detection, content hashing, rebuild) and the span-content frame
    * by two (keeper election, removal join), so BOTH are eagerly
    * localCheckpoint'd (a lost executor fails the job, which is
    * re-run) — one tokenization pass total, instead of the
    * measured 10-scan re-execution tree the lazy form planned (each
    * content reference re-ran span detection, which re-read the
    * input; the GlobalIndex round-12 lesson applied here). The words
    * materialization is corpus-sized — the deliberate memory/disk
    * trade the one-pass guarantee costs; content is span-count-sized.
    */
  def scrubDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      minDocs: Int = 2,
      minRun: Int = 3): DataFrame = {
    // one tokenization pass for all three consumers — WIDENED before
    // the tokenize so the pass (and the pinned copy every later branch
    // reads) is parallel on a narrow small-SF scan (see widen)
    val words = widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextFunctions.words(col(textCol)).as("_w"))
      .localCheckpoint()
    val spans = spanRuns(words, idCol, k, minDocs, minRun)
    // span content hash: the exact covered words, not the grams
    val content = spans.join(words, Seq(idCol))
      .select(col(idCol), col("start_pos"), col("end_pos"),
        md5(concat_ws(" ",
          slice(col("_w"), col("start_pos").cast("int"),
            (col("end_pos") - col("start_pos") + 1).cast("int")))
          .cast("binary")).as("_ch"))
      .localCheckpoint() // span-count-sized; read by keepers AND join
    val keepers = content.groupBy(col("_ch")).agg(min(col(idCol)).as("_keep"))
    val removals = content.join(keepers, Seq("_ch"))
      .filter(col(idCol) =!= col("_keep"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(
        col("start_pos").as("s"), col("end_pos").as("e"))).as("_iv"))

    val iv = coalesce(col("_iv"),
      array().cast("array<struct<s:bigint,e:bigint>>"))
    val positions = when(size(col("_w")) === 0,
      array().cast("array<struct<p:bigint,t:string>>"))
      .otherwise(transform(sequence(lit(1), size(col("_w"))),
        i => struct(i.cast("long").as("p"),
          element_at(col("_w"), i).as("t"))))
    val kept = filter(positions, s => !exists(iv,
      v => s.getField("p") >= v.getField("s") &&
        s.getField("p") <= v.getField("e")))

    // materialize kept ONCE — referencing the filter tree from two
    // output columns would re-run the interval scan per reference
    words.join(removals, Seq(idCol), "left")
      .select(col(idCol), size(col("_w")).cast("long").as("n_words"),
        kept.as("_kept"))
      .select(col(idCol), col("n_words"),
        (col("n_words") - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("_kept"), _.getField("t"))).as("clean"))
  }

  private def idIsIntegralType(df: DataFrame, idCol: String): Boolean = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }
}
