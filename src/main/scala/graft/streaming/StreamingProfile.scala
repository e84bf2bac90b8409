package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DistinctSketch, QuantileSketch, TextFunctions}

/** Incremental corpus profile — the streaming twin of
  * [[graft.functions.CorpusProfile]], and the streaming USE of the
  * sketch-state lifecycle: each micro-batch folds to one state row per
  * slice (doc/token counters, an HLL vocabulary state, a KLL
  * token-length ladder state), which merges into the stored state
  * table by the sketches' own merge aggregators. The card over
  * everything-seen-so-far is answerable at any moment WITHOUT
  * rescanning history — a year of crawl batches is 365 merges of
  * kilobyte states.
  *
  * Drive from `foreachBatch`. Correctness properties (pinned by
  * StreamingProfileSpec):
  *  - after any batch sequence, [[profile]] equals the BATCH profile
  *    of the concatenated input (counters are sums; both sketch
  *    families are merge-closed, so state round-trips lose nothing);
  *  - state advances by the same atomic generation swap as
  *    [[StreamingCdc]] (crash-safe, adopt-last-complete);
  *  - state size is |slices| rows × fixed sketch bytes — never
  *    row-scaled.
  *
  * NOT idempotent under batch replay (counters double-count; HLL
  * would not, but the card must stay consistent) — drive it from a
  * checkpointed stream where foreachBatch replays carry the same
  * batchId, and skip already-applied ids via [[appliedBatchId]].
  */
final class StreamingProfile(
    spark: SparkSession,
    stateDir: String,
    vocabP: Int = 12,
    vocabSparseMax: Int = 16384,
    lenK: Int = 4096,
    // marker table for the language-mix dimension (lang_m state +
    // drift's lang_chisq); the canonical default keeps the streaming
    // screen and the q158 batch twin classifying identically
    markers: Seq[(String, Seq[String])] =
      TextFunctions.DefaultLangMarkers) {

  private val store = new GenerationDir(spark, stateDir)

  /** Stored per-slice states (slice, n_docs, n_tokens, batch_id,
    * vocab_st, len_st, lang_m). */
  def state: Option[DataFrame] = store.read()

  /** Highest batch id folded in so far (−1 before any). */
  def appliedBatchId: Long = appliedIn(state)

  private def appliedIn(state: Option[DataFrame]): Long =
    state.map(_.agg(max(col("batch_id"))).head.getLong(0)).getOrElse(-1L)

  private def batchStates(batch: DataFrame, batchId: Long): DataFrame = {
    val perDoc = batch
      .withColumn("_toks", TextFunctions.tokens(col("text")))
      .select(col("slice"), col("_toks"),
        size(col("_toks")).cast("long").as("_ntok"),
        // language from the already-computed token array — the regex
        // runs once per doc, not once per language
        TextFunctions.langIdFromTokens(
          array_distinct(col("_toks")), markers).as("_lg"))
    val doc = perDoc.groupBy(col("slice")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("_ntok")).as("n_tokens"),
      QuantileSketch.sketchState(col("_ntok").cast("double"), lenK)
        .as("len_st"))
    val voc = perDoc.select(col("slice"), explode(col("_toks")).as("_t"))
      .groupBy(col("slice"))
      .agg(DistinctSketch.sketchState(xxhash64(col("_t")), vocabP,
        vocabSparseMax).as("vocab_st"))
    // language mix as a |langs|-entry map per slice (control-plane:
    // the marker table bounds the key set; sort for a deterministic
    // serialized order)
    val lang = perDoc.groupBy(col("slice"), col("_lg"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("slice"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("_lg"), col("_n"))))).as("lang_m"))
    // left join: a slice whose batch docs all tokenize to zero tokens
    // still appears in doc but not in voc
    doc.join(voc, Seq("slice"), "left")
      .join(lang, Seq("slice"), "left")
      .withColumn("vocab_st", coalesce(col("vocab_st"),
        typedlit(Array(0L, 0L))))
      .withColumn("lang_m", coalesce(col("lang_m"),
        typedlit(Map.empty[String, Long])))
      .withColumn("batch_id", lit(batchId))
  }

  /** Fold one micro-batch of (slice, text) rows. Skips batch ids at or
    * below [[appliedBatchId]] (foreachBatch replay safety). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val prior = state
    if (batchId <= appliedIn(prior) || batch.isEmpty) return
    // eager: the union below references it from TWO aggregations
    // (sketch/counter merge + language-map fold) — without the pin the
    // whole tokenize pipeline would run twice per batch
    val incoming = batchStates(batch, batchId).localCheckpoint(true)
    val merged = prior match {
      case None => incoming
      case Some(st) =>
        val u = st.unionByName(incoming)
        val base = u.groupBy(col("slice"))
          .agg(
            sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            QuantileSketch.mergeState(col("len_st"), lenK).as("len_st"),
            DistinctSketch.mergeState(col("vocab_st"), vocabP,
              vocabSparseMax).as("vocab_st"),
            max(col("batch_id")).as("batch_id"))
        // language maps merge by key-sum (explode → fold → re-map);
        // |slices| × |langs| rows — control-plane
        val lm = u.select(col("slice"), explode_outer(col("lang_m")))
          .filter(col("key").isNotNull)
          .groupBy(col("slice"), col("key"))
          .agg(sum(col("value")).as("_n"))
          .groupBy(col("slice"))
          .agg(map_from_entries(sort_array(
            collect_list(struct(col("key"), col("_n"))))).as("lang_m"))
        base.join(lm, Seq("slice"), "left")
          .withColumn("lang_m", coalesce(col("lang_m"),
            typedlit(Map.empty[String, Long])))
    }
    // checked swap: a failed rename/delete fails the batch for retry
    // instead of silently dropping its counts
    store.write(merged)
    // free this batch's checkpointed blocks NOW: a long-running
    // foreachBatch stream otherwise pins one batch-sized block set
    // per trigger until driver GC notices (Dataset.unpersist does not
    // free localCheckpoint blocks — Iterate.free frees at the RDD, as
    // it does each round of the iterative operators)
    graft.operators.Iterate.free(incoming)
  }

  /** The dataset card over everything folded so far: (slice, n_docs,
    * n_tokens, vocab, med_tokens). */
  def profile: Option[DataFrame] = state.map(_
    .groupBy(col("slice"))
    .agg(
      sum(col("n_docs")).cast("long").as("n_docs"),
      sum(col("n_tokens")).cast("long").as("n_tokens"),
      DistinctSketch.mergeEstimate(col("vocab_st"), vocabP,
        vocabSparseMax).as("vocab"),
      QuantileSketch.mergeQuantiles(col("len_st"), lenK, Seq(0.5))
        .as("_q"))
    .select(col("slice"), col("n_docs"), col("n_tokens"), col("vocab"),
      element_at(col("_q"), 1).cast("long").as("med_tokens")))

  /** Distribution-drift screen for an INCOMING batch against the
    * stored history — the streaming use of q153's KS idea, served
    * from sketch states so no history rescan happens: per slice
    * present on both sides, the token-length quantile ladder of the
    * batch vs the merged historical state, with the max relative gap
    * as the alert score. A scraper change or spam burst shifts the
    * incoming length distribution before it shifts means — run this
    * BEFORE folding the batch in ([[applyBatch]]), gate ingestion on
    * the score.
    *
    * The ladder alone is LENGTH-blind to content: a template swap or
    * language flip that preserves token counts sails through it. The
    * second dimension closes that hole from the HLL states the
    * profile already keeps: `vocab_novelty` = (|hist ∪ batch| −
    * |hist|) / |batch| by inclusion–exclusion over the merged
    * vocabulary sketches (the q125 overlap machinery) — ≈0 when the
    * batch's vocabulary is already known, →1 as it diverges, at zero
    * extra state.
    *
    * The THIRD dimension is categorical: `lang_chisq` — the two-sample
    * χ² homogeneity statistic between the batch's language mix and the
    * stored history mix (per cell diff²/(n_b·n_h·C), the q158 batch
    * twin's arithmetic, served from the lang_m state maps) — flags the
    * geo rollout / scraper-locale change that shifts WHICH languages
    * arrive while lengths and even token overlap within the dominant
    * language stay put.
    *
    * Output: (slice, q, hist_v, batch_v, rel_gap, vocab_novelty,
    * lang_chisq) — one row per requested quantile (the two per-slice
    * scores repeated); alert on max(rel_gap), vocab_novelty, and
    * lang_chisq. In the exact regime (lenK >= group sizes, HLL sparse
    * regime) ladders are exact order statistics and the novelty is
    * exact-set arithmetic; identical mixes score an exact 0 χ², so
    * StreamingProfileSpec pins planted shifts deterministically.
    * Cost: the batch folds once (one eager materialization, four
    * consumers); history is |state rows| kilobyte states — no corpus
    * data moves. */
  def drift(batch: DataFrame,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): Option[DataFrame] =
    state.map { st =>
      // eager pin, four consumers; blocks are GC-reclaimed once the
      // returned frame is unreferenced (Multimodal's discipline —
      // drift cannot free them itself, the result still reads them)
      val bs = batchStates(batch, -1L).localCheckpoint(true)
      val ladder = StreamingProfile.ladderGap(
        st.select(col("slice"), col("len_st")),
        bs.select(col("slice"), col("len_st")), lenK, qs)
      val novelty = StreamingProfile.vocabNovelty(
          st.select(col("slice"), col("vocab_st")),
          bs.select(col("slice"), col("vocab_st")), vocabP, vocabSparseMax)
        .select(col("slice"), col("vocab_novelty"))
      // language-mix χ² summed per slice from the cell decomposition
      // ([[StreamingProfile.langChisqCells]] — the oracle-gated math;
      // doubles throughout: a long-running history's counts × batch
      // counts can pass 2^63, and the screen is threshold-read)
      val chisq = StreamingProfile.langChisqCells(
          st.select(col("slice"), col("lang_m")),
          bs.select(col("slice"), col("lang_m")))
        .groupBy(col("slice")).agg(sum(col("term")).as("lang_chisq"))
      ladder.join(novelty, Seq("slice"))
        .join(chisq, Seq("slice"), "left")
        .withColumn("lang_chisq", coalesce(col("lang_chisq"), lit(0.0)))
    }
}

object StreamingProfile {

  /** The drift screen's ladder comparison, factored so the q157
    * oracle gate runs the SAME code as [[StreamingProfile.drift]]:
    * given two per-slice relations of (slice, len_st) sketch states,
    * merge each side's ladder and emit (slice, q, hist_v, batch_v,
    * rel_gap) — one row per requested quantile, rel_gap =
    * |h−b| / max(|h|,|b|) (0 when both sides are 0).
    *
    * Joined LEFT from the BATCH side: a slice with NO history — a
    * brand-new source appearing mid-stream — is the most-drifted
    * input there is, and an inner join would silently pass it through
    * the gate unexamined (the exact scraper-rollout case the screen
    * exists to flag). Such slices emit full-alert rows: hist_v NULL,
    * rel_gap 1.0. */
  def ladderGap(hist: DataFrame, cur: DataFrame, lenK: Int,
      qs: Seq[Double]): DataFrame = {
    val h = hist.groupBy(col("slice"))
      .agg(QuantileSketch.mergeQuantiles(col("len_st"), lenK, qs)
        .as("hist_q"))
    val c = cur.groupBy(col("slice"))
      .agg(QuantileSketch.mergeQuantiles(col("len_st"), lenK, qs)
        .as("batch_q"))
    val qsCol = array(qs.map(lit): _*)
    c.join(h, Seq("slice"), "left")
      // a null ladder would make zip_with null and posexplode DROP
      // the rows — substitute a null-element ladder of matching shape
      .withColumn("hist_q", coalesce(col("hist_q"),
        transform(col("batch_q"), _ => lit(null).cast("double"))))
      .select(col("slice"), posexplode(
        zip_with(col("hist_q"), col("batch_q"),
          (hv, bv) => struct(hv.as("h"), bv.as("b")))))
      .select(col("slice"),
        element_at(qsCol, col("pos") + 1).as("q"),
        col("col.h").as("hist_v"), col("col.b").as("batch_v"),
        when(col("col.h").isNull, lit(1.0))
          .otherwise(when(
            greatest(abs(col("col.h")), abs(col("col.b"))) === 0, lit(0.0))
            .otherwise(abs(col("col.h") - col("col.b")) /
              greatest(abs(col("col.h")), abs(col("col.b")))))
          .as("rel_gap"))
  }

  /** The drift screen's VOCABULARY dimension, factored (like
    * [[ladderGap]]) so the q174 oracle gate runs the SAME code
    * [[StreamingProfile.drift]] serves: given two per-slice relations
    * of (slice, vocab_st) HLL states, emit (slice, hist_vocab,
    * batch_vocab, union_vocab, vocab_novelty) with novelty =
    * (|hist ∪ batch| − |hist|) / |batch| by inclusion–exclusion over
    * the merged states — exact-set arithmetic in the sparse regime,
    * where the oracle gate hash-matches exact SQL distinct counts.
    *
    * LEFT from the batch side, history coalesced to 0 — a slice with
    * no history scores (|union|−0)/|batch| = 1, the full alert a
    * brand-new source deserves (ladderGap's rule). */
  def vocabNovelty(hist: DataFrame, cur: DataFrame, p: Int,
      sparseMax: Int): DataFrame = {
    val histVoc = hist.groupBy(col("slice"))
      .agg(DistinctSketch.mergeEstimate(col("vocab_st"), p, sparseMax)
        .as("hist_vocab"))
    val batchVoc = cur.groupBy(col("slice"))
      .agg(DistinctSketch.mergeEstimate(col("vocab_st"), p, sparseMax)
        .as("batch_vocab"))
    val unionVoc = hist.select(col("slice"), col("vocab_st"))
      .unionByName(cur.select(col("slice"), col("vocab_st")))
      .groupBy(col("slice"))
      .agg(DistinctSketch.mergeEstimate(col("vocab_st"), p, sparseMax)
        .as("union_vocab"))
    batchVoc
      .join(histVoc, Seq("slice"), "left")
      .join(unionVoc, Seq("slice"))
      .withColumn("hist_vocab", coalesce(col("hist_vocab"), lit(0L)))
      .select(col("slice"), col("hist_vocab"), col("batch_vocab"),
        col("union_vocab"),
        when(col("batch_vocab") === 0, lit(0.0))
          // clamp: estimator noise can put |union| a hair outside
          // [|hist|, |hist|+|batch|]; novelty is a ratio in [0,1]
          .otherwise(least(lit(1.0), greatest(lit(0.0),
            (col("union_vocab") - col("hist_vocab")).cast("double") /
              col("batch_vocab"))))
          .as("vocab_novelty"))
  }

  /** The drift screen's LANGUAGE-MIX dimension, cell-decomposed (the
    * q158 discipline: exact-integer cells, one IEEE-deterministic
    * multiply+divide per cell, no cross-row float accumulation) and
    * factored so the q175 oracle gate runs the SAME code
    * [[StreamingProfile.drift]] serves from stored lang_m state maps:
    * per (slice, lg) cell of history-vs-batch, the two-sample χ²
    * homogeneity term diff²/(n_b·n_h·C) with diff = bn·n_h − hn·n_b.
    * Emits (slice, lg, hn, bn, n_h, n_b, term); [[drift]] sums `term`
    * per slice into `lang_chisq`. The window runs over
    * |slices| × |langs| rows — control-plane. */
  def langChisqCells(hist: DataFrame, cur: DataFrame): DataFrame = {
    def catRows(df: DataFrame, n: String) = df
      .select(col("slice"), explode_outer(col("lang_m")))
      .filter(col("key").isNotNull)
      .groupBy(col("slice"), col("key"))
      .agg(sum(col("value")).as(n))
      .withColumnRenamed("key", "lg")
    val cells = catRows(hist, "hn")
      .join(catRows(cur, "bn"), Seq("slice", "lg"), "full")
      .na.fill(0L, Seq("hn", "bn"))
    val wS = org.apache.spark.sql.expressions.Window.partitionBy(col("slice"))
    cells
      .withColumn("n_h", sum(col("hn")).over(wS))
      .withColumn("n_b", sum(col("bn")).over(wS))
      .withColumn("_d", col("bn").cast("double") * col("n_h").cast("double")
        - col("hn").cast("double") * col("n_b").cast("double"))
      .withColumn("_den", col("n_b").cast("double") * col("n_h").cast("double")
        * (col("bn") + col("hn")).cast("double"))
      .withColumn("term", when(col("_den") === 0, lit(0.0))
        .otherwise(col("_d") * col("_d") / col("_den")))
      .drop("_d", "_den")
  }
}
