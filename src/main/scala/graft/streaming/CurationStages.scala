package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.core.Message
import graft.functions.{Hashes, TextFunctions}
import graft.router.{Ctx, Stages}

/** Library-packaged curation stages for streaming ingest — the LLM
  * middleware family, expressed as [[graft.router.Stages.Stage]]
  * transforms over the envelope so they compose inside a Router
  * handler chain (and stay ONE Catalyst plan per micro-batch; nothing
  * here is per-row Scala).
  *
  * Every stage is a pure column transform on the STREAMING Dataset —
  * no stream-stream joins, no state — so they are valid on an
  * unbounded stream under any trigger. Stateful curation (cross-batch
  * dedup, budgets) lives in [[StreamingDedup]] (Spark's own state
  * store) and in [[StreamingNearDup]] / [[StreamingQuota]], which are
  * `foreachBatch`-driven because they must read their own past — a
  * replay-safe [[BatchPartitionedStore]] each.
  */
object CurationStages {

  private val msgEnc = Encoders.product[Message]

  private def text = col("payload").cast("string")

  /** Scrub emails/IPs/phone-ish runs from the payload BEFORE any
    * downstream hashing (redacted twins then dedup together). */
  def redactPii: Stages.Stage = ds =>
    ds.toDF()
      .withColumn("payload", TextFunctions.redactPii(text).cast("binary"))
      .as[Message](msgEnc)

  /** Drop documents under a token floor. */
  def minTokens(n: Int): Stages.Stage = ds =>
    ds.toDF().filter(TextFunctions.tokenCount(text) >= n).as[Message](msgEnc)

  /** Drop documents whose deflate ratio is under `floor` (repetitive
    * boilerplate/spam — see [[TextFunctions.compressionRatio]]). */
  def compressibilityFloor(floor: Double): Stages.Stage = ds =>
    ds.toDF().filter(TextFunctions.compressionRatio(text) >= floor)
      .as[Message](msgEnc)

  /** Route each document to `kept_<lang>` or `rejected` by quality
    * score + marker language id, stamping the score into metadata —
    * the quality-gate stage the StreamingCuration tests exercise. */
  def qualityRoute(stopwords: Seq[String], floor: Double,
      markers: Seq[(String, Seq[String])]): Stages.Stage = ds =>
    ds.toDF()
      .withColumn("_q", TextFunctions.qualityScore(text, stopwords))
      .withColumn("_lang", TextFunctions.langId(text, markers))
      // strip the keys BEFORE concat: under the default
      // mapKeyDedupPolicy=EXCEPTION a message that already carries
      // 'quality' (re-ingested from a kept_* topic — Router strips only
      // _graft_ keys on publish) or a TopicOverride (poison/retry
      // middleware upstream) would make map_concat throw and fail the
      // whole micro-batch
      // coalesce FIRST: the envelope allows a NULL metadata map, and
      // map_filter/map_concat propagate the null — the row would lose
      // its topic override entirely and silently route to the default
      // topic as if it passed the gate
      .withColumn("metadata", map_concat(
        map_filter(coalesce(col("metadata"),
            map().cast("map<string,string>")),
          (k, _) => k =!= Ctx.TopicOverride && k =!= "quality"),
        map(
          lit(Ctx.TopicOverride),
          when(col("_q") >= floor, concat(lit("kept_"), col("_lang")))
            .otherwise(lit("rejected")),
          lit("quality"), col("_q").cast("string"))))
      .drop("_q", "_lang")
      .as[Message](msgEnc)

  /** Drop documents sharing any 5-gram with the benchmark hash set
    * (decontamination at INGEST — before a contaminated doc ever
    * lands). The set rides the plan as one array literal so the stage
    * stays a stateless expression valid on unbounded streams; that
    * bounds it to benchmark-suite scale (thousands of n-grams, the
    * realistic case — eval suites are small). For corpus-scale right
    * sides use the batch pipeline's broadcast-join stage instead
    * ([[graft.tools.Pipeline.curate]]). Hashes come from
    * [[Hashes.md5Long]] over 5-gram shingles — compute the benchmark
    * side with [[benchmarkHashes]]. */
  def decontaminate(benchHashes: Seq[Long]): Stages.Stage = ds =>
    ds.toDF()
      .withColumn("_w", TextFunctions.words(text))
      .withColumn("_sh", TextFunctions.shinglesFromWords(col("_w"), 5))
      .filter(!arrays_overlap(
        transform(col("_sh"), s => Hashes.md5Long(s)),
        typedlit(benchHashes)))
      .drop("_w", "_sh")
      .as[Message](msgEnc)

  /** Distinct 5-gram hashes of a benchmark corpus, for
    * [[decontaminate]]. Driver-side collect by design: the result IS
    * the stage's literal model (eval suites are control-plane sized). */
  def benchmarkHashes(bench: Dataset[String]): Seq[Long] = {
    val spark = bench.sparkSession
    import spark.implicits._
    benchmarkHashFrame(bench).as[Long].collect().toSeq
  }

  private def benchmarkHashFrame(bench: Dataset[String]) =
    bench.toDF("text")
      .select(TextFunctions.words(col("text")).as("w"))
      .select(explode(TextFunctions.shinglesFromWords(col("w"), 5)).as("sh"))
      .select(Hashes.md5Long(col("sh")).as("h")).distinct()

  /** [[decontaminate]]'s CORPUS-SCALE form: when the held-out set's
    * n-gram space outgrows an array literal, carry a fixed-size Bloom
    * sketch instead ([[Hashes.bloomContains]]) — membership stays a
    * stateless per-row expression valid on unbounded streams, at the
    * cost of `fpp` false drops (tunable; false positives DROP clean
    * docs, never leak contaminated ones — the conservative direction
    * for decontamination). */
  def decontaminateBloom(bf: org.apache.spark.util.sketch.BloomFilter): Stages.Stage =
    ds => ds.toDF()
      .withColumn("_w", TextFunctions.words(text))
      .withColumn("_sh", TextFunctions.shinglesFromWords(col("_w"), 5))
      .filter(!exists(transform(col("_sh"), s => Hashes.md5Long(s)),
        h => Hashes.bloomContains(h, bf)))
      .drop("_w", "_sh")
      .as[Message](msgEnc)

  /** Build the Bloom sketch for [[decontaminateBloom]] from a
    * benchmark corpus — distributed aggregation (`stat.bloomFilter`),
    * only the fixed-size sketch reaches the driver. */
  def benchmarkBloom(bench: Dataset[String], expectedNgrams: Long,
      fpp: Double = 0.001): org.apache.spark.util.sketch.BloomFilter =
    benchmarkHashFrame(bench).stat.bloomFilter("h", expectedNgrams, fpp)
}
