package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

/** Embedding-similarity operators over `ARRAY<FLOAT/DOUBLE>` columns.
  * All arithmetic is native kernels ([[VecUtil]], reading
  * `ARRAY<DOUBLE>`; a FLOAT array is widened) or composed column
  * expressions — sequential left folds, deterministic and
  * bit-reproducible across runs, never UDFs.
  */
object VectorFunctions {

  /** The type every vector kernel reads; an `ARRAY<FLOAT>` argument is
    * widened to it by the analyzer. */
  private val Vec = ArrayType(DoubleType)

  /** Dot product of two equal-length vectors: a native kernel
    * ([[VecUtil.dotD]]) with the same sequential-fold accumulation
    * order (bit-identical results) as the composed
    * `aggregate(zip_with(...))` form it replaces — the HOF form
    * re-enters expression evaluation per element, which dominates
    * all-pairs similarity joins. */
  def dot(a: Column, b: Column): Column =
    Kernel.static(VecUtil, "dotD", DoubleType, a -> Vec, b -> Vec)

  /** The composed-HOF reference form, kept for the equivalence test
    * that pins [[dot]] to the same bit pattern. */
  private[graft] def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Unit-normalize an array column with the norm evaluated ONCE per
    * row. The obvious `transform(c, x => x / l2Norm(c))` captures the
    * norm expression inside the lambda, and HOF lambdas re-evaluate
    * captured trees per ELEMENT (the rule TextFunctions documents for
    * shingles) — an O(dim²)-per-row tax every ANN path was paying at
    * dim=64. `array_repeat` pins the norm to one row-level evaluation
    * the optimizer cannot push back into the lambda; values (and so
    * every oracle hash) are bit-identical: same divide, same norm,
    * zero-norm rows still produce the NaN/Infinity the callers'
    * guards expect. */
  def unitize(c: Column): Column =
    zip_with(c, array_repeat(l2Norm(c), size(c)), (x, n) => x / n)

  /** Brute-force top-k cosine neighbors of `queries` within `corpus`.
    * Shape: broadcast the (small) query set against the corpus, then a
    * per-query window top-k. At cluster scale this is the exact
    * baseline: the corpus's DATA never shuffles by key — each
    * partition scores its rows against the broadcast queries; only k
    * rows per query survive to the final (tiny) sort. (The pruned
    * corpus projection is round-robin widened ONLY below
    * defaultParallelism partitions — identity at production file
    * counts; see [[DedupFunctions.widen]].)
    *
    * @param queries frame with (`idCol`, `vecCol`) — must be small
    *                (broadcast side).
    * @param corpus  frame with (`idCol`, `vecCol`).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // norms are per-ROW, computed before the join — inside the join
    // they'd be re-derived once per PAIR (3 array passes per pair
    // instead of 1; at |corpus|×|queries| pairs that dominates)
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0) // zero vectors: no direction, and ANSI throws on 0/0
    val c = graft.functions.DedupFunctions
      .widen(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")))
      .withColumn("cn", l2Norm(col("cv")))
      .filter(col("cn") > 0) // probe side widened — see cosineNearDupPairs
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      // zero-norm vectors (failed encoders) make sim = 0/0 = NaN, and
      // Spark sorts NaN ABOVE every double — unguarded, one zero
      // vector claims a top-k slot for every query
      .filter(!isnan(col("sim")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * embedding, the k most-similar corpus items with a DIFFERENT label
    * — the negatives that actually teach the margin (random negatives
    * are trivially far; "hard" ones sit near the decision boundary —
    * the in-batch-negatives upgrade every published contrastive
    * pipeline converges to).
    *
    * Same scale shape as [[bruteForceTopK]] (queries broadcast, corpus
    * never key-shuffled — widened round-robin only below
    * defaultParallelism, identity at production file counts; norms
    * hoisted per-row) with the label-mismatch predicate IN the join
    * condition, so same-label pairs never score.
    * For corpora past brute force, feed the IVF/SRP candidate sets and
    * re-rank with this on the survivors. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(labelCol).as("qlabel"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0) // zero-norm guard, see bruteForceTopK
    val c = graft.functions.DedupFunctions
      .widen(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nlabel"),
        col(vecCol).cast("array<double>").as("cv")))
      .withColumn("cn", l2Norm(col("cv")))
      .filter(col("cn") > 0) // probe side widened — see cosineNearDupPairs
    val scored = c.join(broadcast(q),
        col("neighbor_id") =!= col("query_id") &&
          !(col("nlabel") <=> col("qlabel")))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(!isnan(col("sim"))) // zero-norm guard, see bruteForceTopK
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("nlabel").as("neighbor_label"))
  }

  /** Exact embedding-cosine near-duplicate pairs: every (d1 < d2) pair
    * with cosine >= threshold. All-pairs via broadcast-nested-loop —
    * the EXACT baseline, valid while one copy of the corpus broadcasts;
    * at 100 TB use [[cosineNearDupBucketed]] (same output contract,
    * LSH-bounded candidate generation). Norms hoisted per row, never
    * per pair. */
  def cosineNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // widen the PROBE side of the nested-loop join: the |pairs| × dim
    // dot-product work runs at the probe's partition count, and a
    // small-SF single-row-group scan gives it ONE task (identity at
    // production file counts — DedupFunctions.widen)
    val a = graft.functions.DedupFunctions
      .widen(vecs.select(col(idCol).as("d1"),
        col(vecCol).cast("array<double>").as("v1")))
      .withColumn("n1", l2Norm(col("v1")))
      .filter(col("n1") > 0) // zero-norm guard, see bruteForceTopK
    val b = vecs.select(col(idCol).as("d2"),
        col(vecCol).cast("array<double>").as("v2"))
      .withColumn("n2", l2Norm(col("v2")))
      .filter(col("n2") > 0)
    a.join(broadcast(b), col("d1") < col("d2"))
      .withColumn("sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      // NaN >= threshold is TRUE under Spark NaN ordering — a zero
      // vector would pair with everything it meets
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select(col("d1"), col("d2"), round(col("sim"), 4).as("sim"))
  }

  /** Scale path for [[cosineNearDupPairs]]: `bands` independent SRP
    * tables (distinct hyperplane seeds); vectors sharing ANY band's
    * bucket are candidates, then verified with the exact cosine. Same
    * shape as MinHash-LSH banding: one shuffle on (band, key), group-
    * then-double-explode pair generation (the expensive srpBucket
    * subtree is referenced exactly once), bounded per-bucket collection
    * as the skew guard. Precision is exact (every pair verified);
    * recall is probabilistic in the LSH way — identical vectors share
    * every bucket and are always recalled. */
  def cosineNearDupBucketed(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nBits: Int = 8, bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    // widened once: the per-band SRP hashing AND both verify-join
    // sides read this projection, all at its partition count (see
    // cosineNearDupPairs / DedupFunctions.widen)
    val base = graft.functions.DedupFunctions
      .widen(vecs.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")))
    val bandCols = (0 until bands).map(bd =>
      struct(lit(bd).as("band"),
        srpBucket(col("v"), dim, nBits, seed = 1000 * bd + 7).as("key")))
    val bucketed = base.select(col("id"), explode(array(bandCols: _*)).as("x"))
      .select(col("id"), col("x.band"), col("x.key"))
    // shared generator: id-type branch + over-cap drop live in ONE
    // place (DedupFunctions.bucketPairs) — this copy had a blanket
    // long cast that silently returned zero pairs for string ids
    val cand = DedupFunctions.bucketPairs(bucketed, Seq("band", "key"),
      "id", maxBucket)
    // verification re-reads only the pruned (id, vec) projection — the
    // srpBucket compute above is not re-evaluated here
    val s1 = base.select(col("id").as("d1"), col("v").as("v1"))
      .withColumn("n1", l2Norm(col("v1")))
      .filter(col("n1") > 0) // zero-norm guard, see bruteForceTopK
    val s2 = base.select(col("id").as("d2"), col("v").as("v2"))
      .withColumn("n2", l2Norm(col("v2")))
      .filter(col("n2") > 0)
    cand.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      // NaN >= threshold is TRUE under Spark NaN ordering — NaN input
      // components must not pair with everything they meet
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select(col("d1"), col("d2"), round(col("sim"), 4).as("sim"))
  }

  /** SemDeDup-style semantic dedup, END-TO-END SCALE PATH: SRP-bucketed
    * candidate generation ([[cosineNearDupBucketed]]) → exact cosine
    * verification → connected-component clustering
    * ([[DedupFunctions.dupClusters]]). Same output contract as the
    * exact composition `dupClusters(cosineNearDupPairs(...))` — one
    * `(doc_id, cluster_id = min reachable id)` row per doc that
    * appears in at least one verified near-dup pair — but the corpus
    * is NEVER broadcast: candidates come from `bands` independent
    * (band, bucket) shuffles, so the plan survives a corpus that is
    * 100× past broadcast range. Precision is exact (every candidate
    * pair re-verified with the real cosine before clustering); recall
    * is LSH-probabilistic per MISSED EDGE — identical vectors share
    * every bucket and are always clustered together, and a missed
    * low-margin edge can only SPLIT an exact cluster, never merge two
    * (bucketed pairs ⊆ exact pairs ⇒ bucketed components refine exact
    * components — the property DedupPropertySpec pins). Raise `bands`
    * to trade one more shuffle per band for recall.
    */
  def semanticDedupBucketed(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nBits: Int = 8, bands: Int = 4,
      maxBucket: Int = 1000, maxIter: Int = 10): DataFrame =
    DedupFunctions.dupClusters(
      cosineNearDupBucketed(vecs, idCol, vecCol, dim, threshold, nBits, bands,
        maxBucket).select(col("d1"), col("d2")),
      maxIter)

  /** Within-cluster near-dup pairs under a k-means partition — the
    * candidate generator SemDeDup actually describes: cluster the
    * embeddings (spherical k-means, [[ivfTrain]]), then verify exact
    * cosine only WITHIN each cluster. Complementary to
    * [[cosineNearDupBucketed]]'s SRP banding, which prunes well only
    * at high thresholds (per-hyperplane collision for a true pair is
    * `1-acos(t)/π`; at t≈0.4 even 2-bit bands collide ~40% of ALL
    * pairs, so banding degenerates toward all-pairs-plus-shuffles).
    * K-means candidate volume is Σ|cell|²/2 ≈ n²/2k at ANY threshold —
    * a k× reduction the operator controls directly — at the cost of
    * missing pairs that straddle a cell boundary (the recall loss
    * SemDeDup accepts by construction; duplicated/identical vectors
    * share a nearest centroid and are never split).
    *
    * Scale shape: one assignment pass (centroids are a k×dim driver
    * model riding the plan as a single reference object), one shuffle
    * on the cell id, bounded per-cell collection; each unordered pair
    * appears exactly once (a vector has one cell), so no distinct. */
  def kmeansNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, cents: Array[Array[Double]],
      maxCluster: Int = 100000, probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= cents.length, "probes out of range")
    val base = graft.functions.DedupFunctions
      .widen(vecs.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")))
      // zero vectors have no direction: unit() would NaN every
      // component and poison the centroid assignment
      .filter(size(col("v")) === dim && l2Norm(col("v")) > 0)
    // probes > 1 is multi-assignment: each vector joins its `probes`
    // nearest cells, recovering pairs that straddle a cell boundary —
    // the dominant recall loss at LOW thresholds, where "near-dups"
    // sit far from cell centers. At the SemDeDup production threshold
    // (>= 0.9) duplicates hug their centroid and probes=1 suffices.
    val assigned =
      if (probes == 1)
        base.select(col("id"), nearestCentroid(unitize(col("v")), cents).as("cell"))
      else
        base.select(col("id"),
          explode(topCentroids(unitize(col("v")), cents, probes)).as("cell"))
    // shared generator (id-type branch + over-cap drop in one place);
    // single assignment => each pair appears at most once (one cell
    // per vector) so the distinct shuffle is skipped; multi-assignment
    // can emit a pair from up to `probes` shared cells. Cells past
    // maxCluster are dropped entirely (they were previously truncated
    // at the collector and still paired — the cap now means what the
    // other generators' caps mean).
    val cand = DedupFunctions.bucketPairs(assigned, Seq("cell"), "id",
      maxCluster, dedup = probes > 1)
    val s1 = base.select(col("id").as("d1"), col("v").as("v1"))
      .withColumn("n1", l2Norm(col("v1")))
    val s2 = base.select(col("id").as("d2"), col("v").as("v2"))
      .withColumn("n2", l2Norm(col("v2")))
    cand.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      // NaN >= threshold is TRUE under Spark NaN ordering — a zero
      // vector would pair with everything it meets
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select(col("d1"), col("d2"), round(col("sim"), 4).as("sim"))
  }

  /** SemDeDup as published: k-means partition → within-cluster exact
    * verification → connected-component clusters. The LOW/ANY-threshold
    * production form of q44 (see [[kmeansNearDupPairs]] for why SRP
    * banding stops pruning at low thresholds). Candidate volume is
    * n²/2k regardless of threshold; k scales with the corpus (keep
    * n/k ≈ the cell size one executor comfortably verifies), and the
    * centroid model stays a k×dim driver object. */
  def semanticDedupKmeans(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, k: Int, iters: Int = 3,
      maxCluster: Int = 100000, maxIter: Int = 10, probes: Int = 1): DataFrame = {
    val cents = ivfTrain(vecs, vecCol, dim, k, iters)
    DedupFunctions.dupClusters(
      kmeansNearDupPairs(vecs, idCol, vecCol, dim, threshold, cents, maxCluster,
        probes).select(col("d1"), col("d2")),
      maxIter)
  }

  // ---------------- IVF (inverted-file) ANN ----------------

  /** Spherical k-means centroids — the IVF coarse quantizer. The model
    * is k×dim doubles on the driver (a MODEL, not data — the corpus
    * never leaves executors):
    *  - init: the k vectors with the smallest content hash
    *    (deterministic sample, no RNG state to ship);
    *  - Lloyd rounds as DataFrame ops: assign = argmax native dot
    *    against broadcast centroid literals, re-estimate = one
    *    (cluster, pos) sum/count aggregation — k×dim cells collected
    *    per round;
    *  - centroids re-normalized each round (spherical variant: cosine
    *    assignment = dot on unit vectors); empty clusters keep their
    *    previous centroid.
    *
    * BOUNDED TRAINING SCANS: Lloyd re-estimation reads its input once
    * per round — unbounded, that is `iters` FULL corpus scans to fit a
    * k×dim model (3 scans of 100 TB for a 16×64 quantizer). The
    * trainer therefore runs on a deterministic hash-top-N sample
    * (`trainSampleN`, floored at 64·k) — the SAME hash order the
    * seeding has always used, so at corpus sizes ≤ N (every test and
    * bench scale here) the sample IS the corpus and training is
    * unchanged, while at 100 TB the per-round cost is bounded by the
    * sample. The sample materializes ONCE (persisted,
    * hash-partitioned for a deterministic layout); rounds iterate over
    * the pinned copy, never re-reading the corpus, and the pin is
    * released when training ends. */
  def ivfTrain(vecs: DataFrame, vecCol: String, dim: Int, k: Int,
      iters: Int = 3, trainSampleN: Int = 1 << 17): Array[Array[Double]] = {
    val vAll = vecs.select(col(vecCol).cast("array<double>").as("v0"))
      .filter(size(col("v0")) === dim && l2Norm(col("v0")) > 0)
      .select(unitize(col("v0")).as("v"))
    val (v, seeds) = trainSample(vAll, math.max(trainSampleN, 64 * k), k)
    var cents: Array[Array[Double]] = seeds
    require(cents.nonEmpty, "ivfTrain: no input vectors of the declared dim")
    try {
      (0 until iters).foreach { _ =>
        val cells = v.withColumn("c", nearestCentroid(col("v"), cents))
          .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("c"), col("pos"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        cells.groupBy(_.getAs[Int]("c")).foreach { case (c, rows) =>
          val mean = new Array[Double](dim)
          rows.foreach(r => mean(r.getAs[Int]("pos")) = r.getAs[Double]("s") / r.getAs[Long]("n"))
          val norm = math.sqrt(mean.map(x => x * x).sum)
          if (norm > 0) next(c) = mean.map(_ / norm)
        }
        cents = next
      }
    } finally v.unpersist(blocking = false)
    cents
  }

  /** Deterministic hash-top-N training sample over a unit-vector frame
    * with column `v` (the ivfTrain/pqTrain bounded-scan contract):
    * top-N by the content hash the seeding orders on, pinned once so
    * Lloyd rounds never re-read the corpus. Hash-partitioned after the
    * limit: the global top-N funnels through one task, and re-spreading
    * by the deterministic hash gives the rounds a stable, parallel
    * layout.
    *
    * Returns the pinned sample AND the `k` lowest-hash seed vectors
    * from ONE job: the sample is persisted (not eagerly checkpointed)
    * and the seed collect is the action that materializes it — the
    * seed plan is a global ordered top-k, which scans every partition,
    * so the cache is fully populated by that single job. The previous
    * shape paid two jobs (an eager localCheckpoint pass, then a
    * re-hash + sort + collect over the pin) for the same rows; the
    * seed values are identical (same hash, same order, same top-k).
    * The returned frame (columns `v`, `h`) IS the persisted one:
    * callers unpersist it when training ends. Unpersisting a frame
    * derived from it (a `select`) would be a silent no-op — the cache
    * manager matches the exact cached plan — and leak the entry. */
  private def trainSample(vAll: DataFrame, n: Int,
      k: Int): (DataFrame, Array[Array[Double]]) = {
    val par = vAll.sparkSession.sparkContext.defaultParallelism
    val sampled = vAll.withColumn("h", xxhash64(col("v").cast("string")))
      .orderBy(col("h")).limit(n)
      .repartition(par, col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = sampled.orderBy(col("h")).limit(k).select(col("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    (sampled, seeds)
  }

  /** Argmax-similarity centroid id for a UNIT vector column. Native
    * kernel carrying the centroid matrix as ONE reference object:
    * the previous composed form (`array_max` over k `struct(dot(v,
    * typedLit(centroid)), i)` branches) inlined k × dim double
    * literals into the tree, and generated-code compilation dominated
    * the query at bench scale. Tie-break (higher id) is identical. */
  private[graft] def nearestCentroid(vhat: Column, cents: Array[Array[Double]]): Column =
    Kernel.static(VecUtil, "nearestCentroid", IntegerType, vhat -> Vec, Kernel.model(cents))

  /** Top-`nProbes` centroid ids by similarity, ordered (sim DESC, id
    * DESC) — same order as the composed reverse-sort-slice form. */
  private[graft] def topCentroids(vhat: Column, cents: Array[Array[Double]],
      nProbes: Int): Column =
    Kernel.static(VecUtil, "topCentroids", ArrayType(IntegerType, containsNull = false),
      vhat -> Vec, Kernel.model(cents), lit(nProbes) -> IntegerType)

  /** IVF search: corpus vectors live in exactly ONE centroid's posting
    * list (one assignment pass, no duplication); each query probes its
    * `nProbes` nearest centroids; exact cosine top-k within the probed
    * lists. `nProbes = k` probes everything and is EXACTLY brute force
    * (the equivalence test's anchor); small `nProbes` trades recall for
    * a ~k/nProbes candidate reduction. The shuffle key is the centroid
    * id — at 100 TB the posting lists are the partitions, and only the
    * (small, broadcast) query side multiplies by nProbes. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, cents: Array[Array[Double]],
      nProbes: Int): DataFrame = {
    require(nProbes >= 1 && nProbes <= cents.length, "nProbes out of range")
    val c = corpus.select(col(idCol).as("neighbor_id"),
        unitize(col(vecCol).cast("array<double>")).as("cv"))
      .withColumn("cluster", nearestCentroid(col("cv"), cents))
    val q = queries.select(col(idCol).as("query_id"),
        unitize(col(vecCol).cast("array<double>")).as("qv"))
      .withColumn("cluster", explode(topCentroids(col("qv"), cents, nProbes)))
      .select(col("query_id"), col("qv"), col("cluster"))
    val scored = c.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("cv"))) // unit vectors: dot = cosine
      .filter(!isnan(col("sim"))) // zero-norm guard, see bruteForceTopK
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** Sign-random-projection bucket id (LSH for cosine): `nBits`
    * deterministic pseudo-random ±1 hyperplanes derived from a
    * splitmix64 mix of (seed, bit, dim index) — no stored model,
    * reproducible on any cluster. Vectors in the same bucket are
    * candidate near-neighbors; probing only the query's bucket turns
    * O(N) scans into O(N / 2^nBits).
    *
    * The planes are ROW-INDEPENDENT, so they are materialized ONCE at
    * plan-construction time and ride the plan as a single reference
    * object ([[VecUtil.srpBucket]], same pattern as the IVF centroids).
    * The previous composed form re-derived every component with a
    * per-element xxhash64 inside `aggregate(zip_with(...))` for every
    * row — ~5M interpreted lambda re-entries per band table at sf0.1,
    * dominating the bucketed-dedup scan stage. */
  def srpBucket(vec: Column, dim: Int, nBits: Int, seed: Int = 42): Column =
    Kernel.static(VecUtil, "srpBucket", LongType,
      vec -> Vec, Kernel.model(srpPlanes(dim, nBits, seed)))

  /** The deterministic ±1 hyperplane family behind [[srpBucket]] (and
    * so `graft_srp_bucket`). A bucket packs one bit per plane into a
    * LONG, so `nBits` is 1..64: a 65th plane would wrap onto bit 0. */
  private[graft] def srpPlanes(dim: Int, nBits: Int,
      seed: Int): Array[Array[Double]] = {
    require(nBits >= 1 && nBits <= 64, s"SRP nBits must be in 1..64, got $nBits")
    require(dim >= 1, s"SRP dim must be at least 1, got $dim")
    Array.tabulate(nBits, dim) { (b, d) =>
      // splitmix64 finalizer over the (seed, bit, dim) triple
      var z = seed.toLong * 0x9E3779B97F4A7C15L +
        b.toLong * 0xBF58476D1CE4E5B9L + d.toLong * 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      if ((z & 1L) == 0L) -1.0 else 1.0
    }
  }

  /** IVF-style ANN: bucket corpus and queries by [[srpBucket]], join on
    * bucket, then exact top-k within candidates. Trades recall for a
    * ~2^nBits candidate reduction. `probes` > 1 is MULTI-PROBE: each
    * query also inspects the buckets at Hamming distance 1 from its
    * own (flipping one hyperplane sign — the most likely place for a
    * near neighbor to fall), recovering most of single-probe's lost
    * recall for a probes× (not 2^nBits×) candidate increase. Only the
    * (small, broadcast) query side multiplies; the corpus is bucketed
    * once. */
  def srpTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, nBits: Int = 4,
      probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= nBits + 1, "probes must be in [1, nBits+1]")
    val q0 = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("home", srpBucket(col("qv"), dim, nBits))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0) // zero-norm guard, see bruteForceTopK
    // probe buckets: home plus home with bit b flipped, b < probes-1 …
    // flipping the LOWEST bits first is arbitrary but deterministic;
    // a score-ordered probe sequence would need the margins, omitted
    val q = q0.select(col("query_id"), col("qv"), col("qn"), col("home"),
        explode(array((lit(-1) +: (0 until probes - 1).map(lit(_))): _*)).as("flip"))
      .withColumn("bucket",
        when(col("flip") < 0, col("home"))
          .otherwise(col("home").bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), flip)"))))
      .drop("flip", "home")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("bucket", srpBucket(col("cv"), dim, nBits))
      .withColumn("cn", l2Norm(col("cv")))
      .filter(col("cn") > 0)
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      // a neighbor can appear via several probes — dedup before ranking
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(!isnan(col("sim"))) // zero-norm guard, see bruteForceTopK
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }

  /** Embedding-space decontamination: drop corpus rows whose cosine
    * to ANY benchmark vector clears `threshold` — the semantic
    * counterpart of the 5-gram decontamination (q43): paraphrased or
    * reformatted eval items that share no exact n-gram still sit next
    * to their source in embedding space. The benchmark side is
    * control-plane-sized (eval suites), so the plan is a broadcast
    * nested-loop LEFT ANTI join: the corpus scans ONCE, never
    * shuffles, and each row short-circuits on its first hit. At 100 TB
    * this is the same shape as the Bloom-filter decontamination path —
    * a fixed-size model rides the plan, the data never moves. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      vecCol: String, threshold: Double): DataFrame = {
    // append-to-original-frame shape: internal names fail fast (the
    // imputeGroupMedian/quotaPerGroup discipline) — a caller's real
    // _cv/_cn would be silently replaced then dropped from the output
    Seq("_cv", "_cn").foreach(n => require(!corpus.columns.contains(n),
      s"column name $n is reserved by semanticDecontaminate"))
    // norms hoisted per ROW on both sides — inside the join condition
    // they would be re-derived once per PAIR (3 array passes per pair,
    // the trap bruteForceTopK documents) — and zero-norm vectors
    // excluded from the comparison: 0/0 = NaN, and NaN >= threshold is
    // TRUE under Spark NaN ordering, so ONE failed-encoder zero vector
    // on the bench side would anti-join away the ENTIRE corpus. A
    // zero-norm corpus row has no direction to compare and is KEPT
    // (dropping needs a verified hit — the no-evidence default).
    val c = corpus.withColumn("_cv", col(vecCol).cast("array<double>"))
      .withColumn("_cn", l2Norm(col("_cv")))
    val b = bench.select(col(vecCol).cast("array<double>").as("_bv"))
      .withColumn("_bn", l2Norm(col("_bv")))
      .filter(col("_bn") > 0)
    c.join(broadcast(b),
        col("_cn") > 0 &&
          dot(col("_cv"), col("_bv")) / (col("_cn") * col("_bn")) >= threshold,
        "left_anti")
      .drop("_cv", "_cn")
  }

  /** PQ codes column: `m` sub-centroid indices per vector, the
    * codebooks riding the plan as one reference object. */
  def pqCodes(vec: Column, books: Array[Array[Array[Double]]]): Column =
    Kernel.static(VecUtil, "pqEncode", ArrayType(IntegerType, containsNull = false),
      vec -> Vec, Kernel.model(books))

  /** ADC distance between a raw query vector and a PQ code array
    * ([[VecUtil.pqAdcDist]]): `m` table lookups per corpus row instead
    * of `dim` multiplies. */
  private[graft] def pqAdcDist(qv: Column, codes: Column,
      books: Array[Array[Array[Double]]]): Column =
    Kernel.static(VecUtil, "pqAdcDist", DoubleType,
      qv -> Vec, codes -> ArrayType(IntegerType), Kernel.model(books))

  /** Product-quantization codebooks (Jégou et al. 2011): split `dim`
    * into `m` subspaces of `dim/m` dims, k-means each subspace to
    * `ksub` sub-centroids. Every Lloyd round trains ALL `m` subspaces
    * in ONE pass — assign via [[pqCodes]] on the full vector,
    * re-estimate via a single (subspace, code, pos) aggregation — so
    * the per-round cost is one scan + one shuffle regardless of `m`,
    * and the driver only ever holds the m × ksub × dsub model.
    * Same deterministic lowest-hash init, spherical input
    * (unit-normalized vectors), and bounded hash-top-N training sample
    * as [[ivfTrain]] (floored at 64·ksub — each subspace's k-means sees
    * the full sample, so one floor covers all m); empty codes keep
    * their previous sub-centroid.
    */
  def pqTrain(vecs: DataFrame, vecCol: String, dim: Int, m: Int,
      ksub: Int = 16, iters: Int = 3,
      trainSampleN: Int = 1 << 17): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val vAll = vecs.select(col(vecCol).cast("array<double>").as("v0"))
      .filter(size(col("v0")) === dim && l2Norm(col("v0")) > 0)
      .select(unitize(col("v0")).as("v"))
    // one lowest-hash pass seeds every subspace (sliced per codebook);
    // sample pin + seed collect share ONE job (see trainSample)
    val (v, seed) = trainSample(vAll, math.max(trainSampleN, 64 * ksub), ksub)
    require(seed.nonEmpty, "pqTrain: no input vectors of the declared dim")
    var books = Array.tabulate(m) { s =>
      seed.map(_.slice(s * dsub, (s + 1) * dsub))
    }
    try {
      (0 until iters).foreach { _ =>
        val cells = v.withColumn("codes", pqCodes(col("v"), books))
          .select(posexplode(col("v")).as(Seq("pos", "x")), col("codes"))
          .select(expr(s"pos div $dsub").cast("int").as("s"),
            expr(s"pos % $dsub").as("j"),
            expr(s"codes[pos div $dsub]").as("c"), col("x"))
          .groupBy(col("s"), col("c"), col("j"))
          .agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
          .collect()
        val next = books.map(_.map(_.clone()))
        cells.foreach { r =>
          next(r.getAs[Int]("s"))(r.getAs[Int]("c"))(r.getAs[Int]("j")) =
            r.getAs[Double]("sm") / r.getAs[Long]("n")
        }
        books = next
      }
    } finally v.unpersist(blocking = false)
    books
  }

  /** PQ search with exact re-rank: score every corpus CODE against the
    * (small, broadcast) query batch by ADC — reading m ints per corpus
    * row where brute force reads dim doubles — keep the `k * refine`
    * best approximate candidates per query, then re-rank just those
    * against their original vectors for exact cosine order. The corpus
    * is scanned twice (codes pass + candidate fetch), never shuffled
    * in full; only candidates (|queries| × k × refine rows) move. At
    * 100 TB the codes pass is the point: an 8-byte code table scans
    * ~64× less data than 64-dim double vectors, and the second pass
    * touches a vanishing fraction of rows. `refine` covering the whole
    * corpus degrades gracefully to exact brute force (PqSpec's anchor,
    * the nProbes=k analogue). */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, books: Array[Array[Array[Double]]],
      refine: Int = 4): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    // dimension guard on BOTH sides, same as pqTrain: pqEncode/
    // pqAdcDist index to dim-1, and a shorter vector either throws
    // (GenericArrayData) or — worse — silently reads adjacent heap via
    // the unchecked UnsafeArrayData fast path, producing
    // nondeterministic codes and wrong neighbors
    val c = corpus
      .filter(size(col(vecCol)) === dim && !col(vecCol).isNull)
      .select(col(idCol).as("neighbor_id"),
        unitize(col(vecCol).cast("array<double>")).as("cv"))
    val codes = c.select(col("neighbor_id"), pqCodes(col("cv"), books).as("codes"))
    val q = queries
      .filter(size(col(vecCol)) === dim && !col(vecCol).isNull)
      .select(col(idCol).as("query_id"),
        unitize(col(vecCol).cast("array<double>")).as("qv"))
    val adc = codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", pqAdcDist(col("qv"), col("codes"), books))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val cand = adc.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    val scored = c.join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("sim", dot(col("qv"), col("cv"))) // unit vectors: dot = cosine
      .filter(!isnan(col("sim"))) // zero-norm guard, see bruteForceTopK
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }
}
