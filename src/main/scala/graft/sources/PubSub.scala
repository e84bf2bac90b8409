package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct}

import graft.core.Message

/** Sink half of a transport, parity with the reference `Publisher`
  * (reference: message/pubsub.go:8-23). Two plain forms: `publish` for
  * driver-side test/interactive sends (small batches, the GoChannel
  * usage pattern) and `publishBatch` for distributed appends (the only
  * form that exists at 100 TB — a DataFrame write, never a collect).
  * The exactly-once epoch write has two entry points over ONE writer
  * per transport: [[publishRoutedEpoch]] (rows carry their own
  * destination — the router's sink) and [[publishEpoch]] (one known
  * topic, a one-topic call into the same writer), so a replay is
  * skipped by the same rule on either path.
  */
trait Publisher {
  def publish(topic: String, msgs: Seq[Message]): Unit
  def publishBatch(topic: String, df: DataFrame): Unit

  /** Idempotent epoch write: re-delivering the SAME (writerId) batch —
    * a micro-batch retried after a sink failure — must not duplicate
    * rows. This is what upgrades foreachBatch from at-least-once to
    * exactly-once (SURVEY §7.4 #5); the default is plain at-least-once
    * append for transports without an idempotency handle.
    *
    * DETERMINISM PRECONDITION (the contract of every idempotent Spark
    * sink): a replay of the same writerId must produce the same rows in
    * the same partitions. Structured Streaming satisfies this by
    * replaying a micro-batch from the same source offsets through the
    * same plan; a manual caller who re-invokes with the SAME writerId
    * but a different frame, a changed `spark.sql.shuffle.partitions`,
    * or AQE toggled across a checkpoint restart breaks it. Transports
    * with partition-level idempotency (SQL) detect the divergence and
    * fail loudly rather than silently dropping or duplicating rows. */
  def publishEpoch(topic: String, df: DataFrame, writerId: String): Unit =
    publishBatch(topic, df)

  /** Routed epoch write: `topicCol` holds each row's destination;
    * `writerId` has the [[publishEpoch]] contract. The Forwarder
    * (reference: components/forwarder/forwarder.go:52-98) makes topic
    * cardinality data-dependent, so transports override this with ONE
    * data pass. The default is per topic: a pinned frame (an upstream
    * handler's side effects never re-run per topic), a distinct-topic
    * collect (bounded by topology fan-out, never data-sized), and one
    * [[publishEpoch]] per destination under the same writerId. */
  def publishRoutedEpoch(df: DataFrame, topicCol: String, writerId: String): Unit = {
    val persisted = df.persist()
    try {
      persisted.select(col(topicCol)).distinct().collect().map(_.getString(0))
        .foreach { t =>
          publishEpoch(t, persisted.filter(col(topicCol) === t)
            .select(Message.columns.map(col): _*), writerId)
        }
    } finally { persisted.unpersist(); () }
  }

  def close(): Unit = ()
}

/** Source half, parity with `Subscriber` (message/pubsub.go:26-39).
  * `subscribe` returns an unbounded streaming DataFrame in the
  * envelope schema; ack/nack is carried by Structured Streaming's
  * offset log (SURVEY.md §7.4). `subscribeBatch` is the replay view
  * (Persistent GoChannel / TestNewSubscriberReceivesOldMessages,
  * pubsub/tests/test_pubsub.go:1126).
  */
trait Subscriber {
  def subscribe(topic: String): DataFrame
  def subscribeBatch(topic: String): DataFrame

  /** Rate-limited subscribe — the Throttle middleware's transport hook
    * (middleware/throttle.go:11-31 maps to per-trigger source caps in a
    * micro-batch engine). `maxPerTrigger` semantics are per-transport
    * (Kafka: offsets; files: files); transports without a rate knob
    * ignore it. */
  def subscribe(topic: String, maxPerTrigger: Option[Long]): DataFrame = subscribe(topic)
}

/** Optional eager topic init before first use, parity with
  * `SubscribeInitializer` (message/pubsub.go:42-51) — maps to topic/
  * table DDL on real transports. */
trait SubscribeInitializer {
  def subscribeInitialize(topic: String): Unit = ()
}

/** Consumer-ack capability, the watermill per-message `Ack()`
  * (message/message.go) mapped to the engine's micro-batch ack unit.
  * A transport whose DURABLE consumer-group offsets must advance on
  * processing — not on enqueue into the in-process broker — stamps
  * each delivered message's source offset into
  * `metadata[Ctx.AckOffset]`; the router sink calls `ack` with the
  * batch's max offset AFTER the downstream publish commits. Acks are
  * monotonic (a lower offset never regresses the mark) and idempotent,
  * so a retried batch re-acks harmlessly. Non-router consumers that
  * never ack get full redelivery on a fresh instance — the same
  * contract as an un-acked watermill subscription. */
trait AckableSubscriber {
  def ack(topic: String, upTo: Long): Unit
}

trait PubSub extends Publisher with Subscriber with SubscribeInitializer

/** In-memory broker over `MemoryStream`, the engine's GoChannel
  * (reference: pubsub/gochannel/pubsub.go:15-34). Semantics mapping:
  *  - Persistent=true GoChannel replays history to new subscribers;
  *    MemoryStream does exactly that — each new streaming query reads
  *    from offset 0 — so this transport is always "persistent".
  *  - BlockPublishUntilSubscriberAck ≈ `query.processAllAvailable()`.
  *  - per-subscriber copies (pubsub.go:95-102) are free: rows are
  *    immutable.
  * Driver-side state is one MemoryStream per topic — a TEST transport
  * by design (the reference's GoChannel is likewise in-process); the
  * scale transports are [[FilePubSub]] / [[KafkaPubSub]].
  */
/** @param numPartitions when Some(1), the transport guarantees global
  *   delivery order (the reference's GuaranteedOrder capability,
  *   pubsub/tests/test_pubsub.go:104-110) — one partition means one
  *   task consumes in offset order. Default: session parallelism,
  *   unordered across keys (like most real transports).
  */
/** @param maxTrackedEpochs bound on the exactly-once epoch-dedup set.
  *   A retried micro-batch arrives immediately after the failure, so
  *   only the recent tail of (topic, writerId) pairs matters; without a
  *   bound the set is a slow leak in a months-running router. FIFO
  *   eviction — the same retention contract as any idempotency-key
  *   store: the window must exceed the redelivery horizon. */
/** @param maxHistoryPerTopic bound on the per-topic replay buffer
  *   behind `subscribeBatch` — FIFO: past the cap the OLDEST messages
  *   fall off, so a long-running session keeps a bounded tail (the
  *   retention contract of any real log). The reference's Persistent
  *   GoChannel keeps everything (pubsub/gochannel/pubsub.go:115-122) —
  *   acceptable for its test scope, but an unbounded driver-side
  *   Vector is a slow leak in a months-running router; late
  *   subscribers needing full replay belong on [[FilePubSub]]. */
class MemoryPubSub(spark: SparkSession, numPartitions: Option[Int] = None,
    maxTrackedEpochs: Int = 100000, maxHistoryPerTopic: Int = 1000000)
  extends PubSub {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  private val streams =
    scala.collection.concurrent.TrieMap.empty[String, MemoryStream[Message]]

  /** Driver-side replay history, the Persistent-GoChannel buffer
    * (pubsub/gochannel/pubsub.go:115-122 appends to `persistedMessages`;
    * replay to newcomers at :243-261). MemoryStream keeps its own copy
    * for streaming readers; this one serves `subscribeBatch`.
    */
  private val history =
    scala.collection.concurrent.TrieMap.empty[String, Vector[Message]]

  private def stream(topic: String): MemoryStream[Message] =
    streams.getOrElseUpdate(topic, numPartitions match {
      case Some(n) => MemoryStream[Message](spark, n)
      case None => MemoryStream[Message](spark)
    })

  override def publish(topic: String, msgs: Seq[Message]): Unit =
    if (msgs.nonEmpty) synchronized {
      stream(topic).addData(msgs)
      history(topic) =
        (history.getOrElse(topic, Vector.empty) ++ msgs).takeRight(maxHistoryPerTopic)
    }

  override def publishBatch(topic: String, df: DataFrame): Unit =
    publish(topic, df.as[Message].collect().toSeq) // test transport: driver collect

  override def subscribe(topic: String): DataFrame = stream(topic).toDF()

  override def subscribeBatch(topic: String): DataFrame =
    history.getOrElse(topic, Vector.empty[Message]).toDF()

  /** Exactly-once epoch publish: a writerId already delivered to this
    * topic is dropped (the retry of an already-committed batch). The
    * epoch is marked seen only once the publish SUCCEEDS — marking
    * first would turn a transient publish failure into silent data
    * loss: the sink's retry of the same micro-batch would be dropped
    * as a duplicate (at-most-once, not exactly-once). */
  // Claims carry a TOKEN so the failure path composes with eviction:
  // a failed publish releases ITS claim (remove(key, token)); a retry
  // claims a fresh token and enqueues again, leaving the old queue
  // entry STALE — eviction removes a claim only when the queue entry's
  // token still matches, so a stale entry can never evict the live
  // retry's claim (which would re-open the dedup window and duplicate
  // a redelivered epoch).
  private val seenEpochs =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  private val epochOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[((String, String), Long)]()
  // TrieMap.size and ConcurrentLinkedQueue.size are O(n) traversals —
  // a per-publish size check would make the epoch path quadratic over
  // a long run, so the count (= live entries in seenEpochs) is
  // tracked explicitly.
  private val trackedEpochs = new java.util.concurrent.atomic.AtomicInteger
  private val claimTokens = new java.util.concurrent.atomic.AtomicLong

  /** Claim the epoch (Some(token) = first delivery). Evicts the oldest
    * live claims past [[maxTrackedEpochs]] so the dedup set can't
    * leak; stale queue entries (failure-released) are skipped. */
  private def claimEpoch(key: (String, String)): Option[Long] = {
    val token = claimTokens.incrementAndGet()
    val fresh = seenEpochs.putIfAbsent(key, token).isEmpty
    if (!fresh) None
    else {
      epochOrder.add((key, token))
      var n = trackedEpochs.incrementAndGet()
      while (n > maxTrackedEpochs) {
        val old = epochOrder.poll()
        if (old eq null) n = 0 // another thread drained the queue
        else if (seenEpochs.remove(old._1, old._2))
          n = trackedEpochs.decrementAndGet()
        else n = trackedEpochs.get // stale entry: already released
      }
      Some(token)
    }
  }

  private def releaseEpoch(key: (String, String), token: Long): Unit =
    if (seenEpochs.remove(key, token)) { trackedEpochs.decrementAndGet(); () }

  override def publishEpoch(topic: String, df: DataFrame, writerId: String): Unit =
    publishRoutedEpoch(df.withColumn("_topic", lit(topic)), "_topic", writerId)

  /** The epoch writer for the test transport: a single driver collect,
    * then per-topic claims and appends grouped in memory (the collect
    * was always this transport's data pass — see [[publishBatch]]). */
  override def publishRoutedEpoch(df: DataFrame, topicCol: String,
      writerId: String): Unit = {
    val rows = df
      .select(col(topicCol).as("_1"), struct(Message.columns.map(col): _*).as("_2"))
      .as[(String, Message)].collect()
    rows.groupBy(_._1).foreach { case (topic, ms) =>
      claimEpoch((topic, writerId)).foreach { token =>
        try publish(topic, ms.map(_._2).toSeq)
        catch { case e: Throwable =>
          releaseEpoch((topic, writerId), token); throw e
        }
      }
    }
  }

  override def subscribeInitialize(topic: String): Unit = { stream(topic); () }
}

/** File-backed transport: one parquet directory per topic under
  * `root`. This is the testdata path and the Delta-shaped production
  * pattern: append-ordered files, replayable from the beginning,
  * exactly-once per micro-batch via the streaming file-sink log.
  */
class FilePubSub(spark: SparkSession, root: String)
  extends PubSub {
  import spark.implicits._

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Topic names become directory names, so three shapes are rejected
    * outright: path separators (a nested "a/b" topic would BLEED into
    * topic "a" — readers list recursively), traversal ("../x" escapes
    * the root entirely), and '.'/'_' prefixes — Spark readers treat
    * those as hidden, and they collide with this transport's own
    * internal dirs (the swap siblings `.<t>.next` and `.<t>.old`,
    * `.routed_epoch_<w>`: a topic literally named `.a.old` would be
    * DELETED by compact("a")). Loud beats aliased. */
  private[sources] def isValidTopic(topic: String): Boolean =
    topic.nonEmpty && !topic.contains("/") &&
      !topic.startsWith(".") && !topic.startsWith("_")
  private def path(topic: String) = {
    require(isValidTopic(topic),
      s"invalid file topic name '$topic': must be a single non-hidden path segment")
    s"$root/$topic"
  }

  /** writerId names the epoch directory (`epoch_<writerId>` /
    * `.routed_epoch_<writerId>`), so the topic rule applies to it too:
    * a separator would ESCAPE the topic dir entirely ("w/../../x"
    * writes outside the root, and its `_SUCCESS` skip-probe follows it
    * there — exactly-once bookkeeping landing wherever the traversal
    * points). The SQL transport rejects its reserved writer shapes
    * loudly (`requireWriterId`); same rule here. The `epoch_` prefix
    * already protects the hidden-dir namespace, so only separators
    * need rejecting. */
  private def requireWriterId(w: String): Unit =
    require(w != null && w.nonEmpty && !w.contains("/") && !w.contains("\\"),
      s"invalid writerId '$w': must be a single path segment " +
        "(it names the epoch directory)")

  override def publish(topic: String, msgs: Seq[Message]): Unit =
    publishBatch(topic, msgs.toDF())

  /** Each publish owns a unique subdirectory (readers list
    * recursively), so concurrent publishers never share a commit
    * staging dir — a plain `mode("append")` into the topic root races
    * on `_temporary/0` when two writers overlap (loss, not an error).
    * Coordination-free: correct across threads, JVMs, and cluster
    * writers alike; [[compact]] folds the directories back down. */
  override def publishBatch(topic: String, df: DataFrame): Unit =
    df.select(Message.columns.map(col): _*)
      .write.mode("overwrite")
      .parquet(s"${path(topic)}/pub_${java.util.UUID.randomUUID().toString.replace("-", "")}")

  /** Exactly-once epoch publish, a one-topic call into the epoch
    * writer ([[publishRoutedEpoch]]); a known topic lets a replay skip
    * before any data pass. Each writer epoch owns a deterministic
    * `epoch_<writerId>` subdirectory per topic; readers list
    * recursively, so flat appends and epoch dirs coexist. */
  override def publishEpoch(topic: String, df: DataFrame, writerId: String): Unit = {
    requireWriterId(writerId)
    val dir = new HPath(path(topic), s"epoch_$writerId")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!epochDone(fs, topic, dir))
      publishRoutedEpoch(df.withColumn("_topic", lit(topic)), "_topic", writerId)
  }

  /** The skip rule of both epoch entry points: the epoch is complete
    * (`_SUCCESS` present, carried in by its one rename — a partial dir
    * from a crashed write has none and is overwritten), or [[compact]]
    * folded it into the consolidated file (the topic's hidden
    * manifest), so a late retry cannot re-append rows already held. */
  private def epochDone(fs: FileSystem, topic: String, dir: HPath): Boolean =
    fs.exists(new HPath(dir, "_SUCCESS")) ||
      compactedEpochs(fs, topic).contains(dir.getName)

  /** Epoch dirs folded away by [[compact]], one name per line in the
    * topic's hidden `_epochs_manifest` file (underscore-prefixed:
    * invisible to Spark readers). Kept so the exactly-once contract
    * survives compaction — without it, a checkpoint-replayed epoch
    * from inside the redelivery horizon would recreate its dir next to
    * the consolidated copy of the same rows. */
  private def compactedEpochs(fs: FileSystem,
      topic: String): Set[String] = {
    val mf = new HPath(s"${path(topic)}/_epochs_manifest")
    if (!fs.exists(mf)) Set.empty
    else {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
      finally in.close()
    }
  }

  override def subscribe(topic: String): DataFrame = subscribe(topic, None)

  override def subscribe(topic: String, maxPerTrigger: Option[Long]): DataFrame = {
    val r = spark.readStream.schema(Message.schema)
      .option("recursiveFileLookup", "true")
    maxPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(path(topic))
  }

  override def subscribeBatch(topic: String): DataFrame =
    spark.read.schema(Message.schema)
      .option("recursiveFileLookup", "true")
      .parquet(path(topic))

  /** Routed-epoch write: ONE `partitionBy` data pass over the whole
    * batch (instead of O(topics) filtered passes), then O(topics)
    * driver-side directory renames to slot each partition under its
    * topic's `epoch_<writerId>` dir. Renames are metadata ops on
    * HDFS-like stores, never data copies. Each rename carries a
    * `_SUCCESS` into its target, and a target that already has one is
    * skipped ([[epochDone]]), so a replayed epoch neither duplicates
    * rows nor re-creates files a live `subscribe` stream would read a
    * second time. */
  override def publishRoutedEpoch(df: DataFrame, topicCol: String,
      writerId: String): Unit = {
    import graft.streaming.GenerationSwap.{deleteIfExists, renameOrThrow}
    requireWriterId(writerId)
    val staging = s"$root/.routed_epoch_$writerId" // dot-prefixed: hidden from readers
    df.select((Message.columns.map(col) :+ col(topicCol).as("_topic")): _*)
      .write.mode("overwrite").partitionBy("_topic").parquet(staging)
    val stagingPath = new HPath(staging)
    val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val parts = fs.listStatus(stagingPath).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("_topic="))
      parts.foreach { s =>
        // The true inverse of Spark's partition-path escaping — NOT
        // URLDecoder, which turns a literal '+' into a space (Spark's
        // escapePathName leaves '+' alone), so topic "a+b" would land
        // under "a b".
        val topic = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.getPath.getName.stripPrefix("_topic="))
        // The topic value is DATA — throwing here on a bad value would
        // fail the epoch partway through its renames and poison every
        // retry of the batch (the same fail-closed class the delay path
        // eliminates). Quarantine instead: the rows land under a
        // reserved dir, preserved and observable, never lost; the
        // escaped-name target keeps retries idempotent.
        val (target, done) =
          if (isValidTopic(topic)) {
            val dir = new HPath(path(topic), s"epoch_$writerId")
            (dir, epochDone(fs, topic, dir))
          } else {
            log.warn(s"routed publish: invalid topic '$topic' quarantined")
            val dir = new HPath(s"$root/.quarantine",
              s"epoch_${writerId}_${s.getPath.getName}")
            (dir, fs.exists(new HPath(dir, "_SUCCESS")))
          }
        if (!done) {
          // CHECKED ops (GenerationSwap): HDFS-style filesystems signal
          // rename/delete failure by returning false — unchecked, a
          // failed rename here would let the epoch "succeed", offsets
          // commit, and the finally below delete the only copy
          deleteIfExists(fs, target) // a partial dir from a crashed write
          if (!fs.mkdirs(target.getParent))
            throw new java.io.IOException(s"mkdirs failed: ${target.getParent}")
          fs.create(new HPath(s.getPath, "_SUCCESS"), true).close()
          renameOrThrow(fs, s.getPath, target)
        }
      }
    } finally { fs.delete(stagingPath, true); () }
  }

  /** Topic init = directory creation (empty topics readable at once).
    * Through the Hadoop FileSystem like every other operation here —
    * java.nio on an `hdfs://` root would "succeed" by creating a bogus
    * RELATIVE local directory and leave the real topic uncreated. */
  override def subscribeInitialize(topic: String): Unit = {
    val p = new HPath(path(topic))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.mkdirs(p))
      throw new java.io.IOException(s"subscribeInitialize: mkdirs failed: $p")
    ()
  }

  /** Maintenance compaction: epoch-per-micro-batch writes accumulate
    * one small file per epoch — the classic small-files ailment of any
    * file-backed log at scale. Rewrites the topic as `targetFiles`
    * consolidated parquet files in one
    * [[graft.streaming.GenerationSwap.replace]], after a
    * [[graft.streaming.GenerationSwap.recover]] that settles an earlier
    * crashed compact, so a crash never loses data.
    *
    * QUIESCENT-TOPIC maintenance op — run with no concurrent
    * publishers AND no active streaming subscribers on the topic:
    * Spark's file stream source tracks seen FILES, so a live
    * subscriber would treat the consolidated file as brand-new input
    * and reprocess the topic's full history (and a subscriber holding
    * a listed-but-unread backlog dies on the deleted originals).
    * Subscribers started AFTER the compact read the consolidated file
    * once, exactly as before. Same contract as any log compactor.
    *
    * Exactly-once survives compaction: every folded `epoch_*` dir's
    * name is recorded (cumulatively) in the topic's hidden
    * `_epochs_manifest`, and both epoch entry points consult it — a
    * checkpoint-replayed epoch from inside the redelivery horizon
    * skips instead of duplicating rows the consolidated file already
    * holds.
    *
    * `retentionMs` > 0 additionally DROPS rows whose message `ts` is
    * older than the horizon during the rewrite — the file log's
    * retention story (Kafka's retention.ms), closing the transport's
    * unbounded-history growth the same way the SQL transport's
    * pruneConsumed does. `ts` is the producer's event time (the only
    * per-row time the log has), the cutoff is taken once on the
    * driver clock, and expired epochs stay in the manifest so a
    * checkpoint replay from inside the redelivery horizon still skips
    * instead of resurrecting dropped rows. Subscribers started after
    * the compact see only surviving history — retention is an
    * operator decision, default off. */
  def compact(topic: String, targetFiles: Int = 1,
      retentionMs: Long = 0L): Unit = {
    val dir = path(topic)
    val live = new HPath(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.streaming.GenerationSwap.recover(fs, dir)
    if (!fs.exists(live)) return // topic never existed
    // ONE listing drives BOTH the consolidated read and the manifest.
    // Listing after the read left a window: an epoch published between
    // the read and the listing was recorded as FOLDED while its rows
    // were absent from the consolidated output, so a later checkpoint
    // replay of it SKIPPED — silent loss. From a single captured
    // listing, a mid-compact epoch is simply not folded: the swap
    // drops it and the replay re-publishes it as a fresh epoch, so
    // even a violation of the quiescent-topic contract degrades to
    // self-healing redelivery instead of loss.
    val entries = fs.listStatus(live)
    val dataPaths = entries.collect {
      case s if !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") => s.getPath.toString
    }
    val consolidated =
      if (dataPaths.isEmpty)
        spark.read.schema(Message.schema).parquet(live.toString)
      else
        spark.read.schema(Message.schema)
          .option("recursiveFileLookup", "true")
          .parquet(dataPaths.toSeq: _*)
    val retained =
      if (retentionMs > 0)
        // NULL-ts rows are kept explicitly (a bare ts >= cutoff is
        // UNKNOWN on null and would silently expire a foreign writer's
        // unstamped rows); the predicate still pushes to the scan
        consolidated.filter(col("ts").isNull || col("ts") >=
          new java.sql.Timestamp(System.currentTimeMillis() - retentionMs))
      else consolidated
    graft.streaming.GenerationSwap.replace(fs, dir) { next =>
      retained.coalesce(targetFiles).write.mode("overwrite").parquet(next)
      // the folded epoch dirs (cumulative with prior compacts) come from
      // the SAME listing the data pass read, and are written inside the
      // new generation, so the manifest rides the same atomic rename as
      // the data it covers
      val folded = entries.collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("epoch_") =>
          s.getPath.getName
      }.toSet ++ compactedEpochs(fs, topic)
      if (folded.nonEmpty) {
        val out = fs.create(new HPath(next, "_epochs_manifest"), true)
        try out.write(folded.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
    }
  }
}

/** Kafka transport: thin option wiring over Spark's built-in source /
  * sink — the production path for true pub/sub. Not exercised in this
  * container (no broker); the mapping is:
  *  - subscribe: `readStream.format("kafka").option("subscribe", t)`,
  *    headers -> metadata via includeHeaders,
  *  - publish: rows with a per-row `topic` column (Forwarder-style
  *    routing is native).
  */
class KafkaPubSub(spark: SparkSession, bootstrap: String)
  extends PubSub {
  import org.apache.spark.sql.functions._
  import KafkaPubSub.{headersToMetadata, publishProjection}

  override def publish(topic: String, msgs: Seq[Message]): Unit = {
    import spark.implicits._
    publishBatch(topic, msgs.toDF())
  }

  override def publishBatch(topic: String, df: DataFrame): Unit = write(df, lit(topic))

  /** Per-row topic routing (the Forwarder/outbox production path):
    * rows carry their own destination in `topicCol` — Kafka's sink
    * honors a `topic` column natively, so the whole routed batch is
    * ONE write regardless of destination cardinality. Idempotency for
    * `writerId` rides Structured Streaming checkpoint replay (offsets
    * re-committed, batch not re-run); Kafka has no server-side epoch
    * handle short of transactional producers, which the Spark sink
    * does not expose — documented at-least-once on crash-retry. */
  override def publishRoutedEpoch(df: DataFrame, topicCol: String,
      writerId: String): Unit = write(df, col(topicCol))

  private def write(df: DataFrame, topic: org.apache.spark.sql.Column): Unit =
    publishProjection(df, topic)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .save()

  override def subscribe(topic: String, maxPerTrigger: Option[Long]): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("includeHeaders", "true")
    maxPerTrigger.foreach(n => r.option("maxOffsetsPerTrigger", n))
    KafkaPubSub.subscribeProjection(r.load())
  }

  override def subscribe(topic: String): DataFrame = subscribe(topic, None)

  override def subscribeBatch(topic: String): DataFrame =
    KafkaPubSub.subscribeProjection(
      spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("includeHeaders", "true")
        .load())

  /** Topic DDL via Kafka's AdminClient (`SubscribeInitializer` parity —
    * message/pubsub.go:42-51), resolved REFLECTIVELY: kafka-clients is a
    * runtime dependency of Spark's Kafka source but not a compile-time
    * one here, so the call creates the topic when the jar is present
    * and no-ops (topic auto-creation territory) when it is not.
    * Partitions default to the cluster setting (-1). */
  override def subscribeInitialize(topic: String): Unit =
    try {
      val props = new java.util.Properties()
      props.put("bootstrap.servers", bootstrap)
      val adminCls = Class.forName("org.apache.kafka.clients.admin.AdminClient")
      val admin = adminCls.getMethod("create", classOf[java.util.Properties])
        .invoke(null, props)
      try {
        val newTopicCls = Class.forName("org.apache.kafka.clients.admin.NewTopic")
        val newTopic = newTopicCls
          .getConstructor(classOf[String], classOf[java.util.Optional[_]],
            classOf[java.util.Optional[_]])
          .newInstance(topic, java.util.Optional.empty(), java.util.Optional.empty())
        val result = adminCls.getMethod("createTopics", classOf[java.util.Collection[_]])
          .invoke(admin, java.util.Collections.singleton(newTopic))
        result.getClass.getMethod("all").invoke(result) // fire; existence errors surface on get
        ()
      } finally adminCls.getMethod("close").invoke(admin)
    } catch {
      case _: ClassNotFoundException => () // no kafka-clients on the classpath
    }
}

/** The envelope<->Kafka-record projections, exposed as pure column
  * expressions so the mapping is testable without a broker. The
  * middleware contract (correlation.go:15-43, poison.go:14-19,
  * delay.go:56-59) rides on metadata headers, so publish MUST carry
  * them: [[metadataToHeaders]] and [[headersToMetadata]] are exact
  * inverses for string metadata. `ts` is not round-tripped — the
  * broker assigns the record timestamp (documented deviation; the
  * reference Message has no timestamp at all). */
object KafkaPubSub {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** map<string,string> -> Kafka `headers array<struct<key:string,value:binary>>`. */
  def metadataToHeaders(metadata: Column): Column =
    transform(map_entries(metadata), e => struct(
      e.getField("key").as("key"),
      e.getField("value").cast("binary").as("value")))

  /** Kafka headers -> map<string,string>; inverse of [[metadataToHeaders]].
    * Kafka legally repeats header keys; a map cannot — LAST occurrence
    * wins (matches Kafka clients' `lastHeader` convention). Without the
    * dedup, `map_from_arrays` under the default
    * mapKeyDedupPolicy=EXCEPTION kills the stream on the first foreign
    * record with a repeated header. */
  def headersToMetadata(headers: Column): Column = {
    val deduped = filter(headers, (h, i) =>
      !exists(
        slice(headers, i + lit(2), size(headers)),
        h2 => h2.getField("key") === h.getField("key")))
    map_from_arrays(
      transform(deduped, h => h.getField("key")),
      transform(deduped, h => h.getField("value").cast("string")))
  }

  /** Envelope -> the exact record shape Spark's Kafka sink consumes. */
  def publishProjection(df: DataFrame, topic: Column): DataFrame =
    df.select(
      col("uuid").as("key"),
      col("payload").as("value"),
      topic.as("topic"),
      metadataToHeaders(col("metadata")).as("headers"))

  /** Kafka source rows -> envelope; inverse of [[publishProjection]]
    * modulo `ts` (broker-assigned). Foreign producers legally send
    * records with NO key and NO headers (both null) — coalesce both,
    * because a null metadata map NPEs in the router's very first
    * `withMeta` (outside the middleware onion, killing the query on
    * the first such record), and a null uuid breaks dedup/poison
    * bookkeeping the same way. The keyless fallback uuid must be
    * UNIQUE per record, not a shared sentinel: every uuid-seeded
    * mechanism (chaos middleware hashing MurmurHash3(uuid), any
    * uuid-keyed dedup) would otherwise treat ALL keyless foreign
    * records as one message — perfectly correlated drops, collapsed
    * dedup. (topic, partition, offset) is Kafka's own identity for a
    * record and is stable across replays, so the synthesized uuid is
    * deterministic too. */
  def subscribeProjection(records: DataFrame): DataFrame =
    records.select(
      // nullif: an EMPTY byte-array key is legal Kafka and distinct
      // from null — cast to "" it would skip the fallback and hand
      // every such record the same shared uuid (the exact collapsed-
      // identity failure the fallback exists to prevent)
      coalesce(nullif(col("key").cast("string"), lit("")),
        concat_ws(":", lit("kafka"), col("topic"),
          col("partition").cast("string"),
          col("offset").cast("string"))).as("uuid"),
      coalesce(headersToMetadata(col("headers")),
        map_from_arrays(array(), array())
          .cast("map<string,string>")).as("metadata"),
      col("value").as("payload"),
      col("timestamp").as("ts"))
}
