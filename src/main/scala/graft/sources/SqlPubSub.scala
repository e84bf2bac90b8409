package graft.sources

import java.sql.{Connection, DriverManager, Timestamp}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.core.Message

/** SQL transport, the watermill-sql analogue (reference transport
  * matrix README.md:104-117; the SQL repo's model: publish = INSERT
  * into a per-topic messages table with an auto-increment offset,
  * subscribe = poll rows past the consumer group's acked offset, ack =
  * advance the offset row). Mapped Spark-first:
  *
  *  - `publishBatch` writes through Spark's JDBC sink — the INSERTs
  *    run on EXECUTORS, so bulk publish scales with the cluster;
  *  - `subscribeBatch` is a parallel JDBC read of the whole topic
  *    (the replay view);
  *  - `subscribe` is CDC-style polling: a driver-side poller tails the
  *    table past the consumer group's acked offset in bounded pages
  *    (poll batches are control-plane-sized) and feeds the in-process
  *    broker, which exposes the streaming DataFrame.
  *
  * At-least-once across PROCESS deaths: the durable offset advances on
  * CONSUMER ACK ([[AckableSubscriber.ack]], driven by the router sink
  * after its downstream commit — watermill-sql's ack-advances-offset
  * model), never at enqueue. The poller tracks its own in-memory
  * enqueue mark so a live instance never re-enqueues; a fresh instance
  * resumes from the last ACK, so a batch that was enqueued but never
  * successfully processed (process crash, permanently failing sink)
  * redelivers instead of being silently skipped — the reference's
  * TestContinueAfterErrors (pubsub/tests/test_pubsub.go:755) semantics.
  * Each delivered message carries its source offset in
  * `metadata[Ctx.AckOffset]` (stripped on router publish). Consumers
  * that never ack (raw streaming queries) get full redelivery on a
  * fresh same-group instance, exactly like an unacked watermill
  * subscription.
  *
  * Offsets are durable in `graft_offsets` keyed by (group, topic) —
  * a new subscriber with the same group resumes where the last one
  * acked, watermill-sql's consumer-group semantics.
  *
  * Delayed consumption (the transport the reference documents it for,
  * docs/content/advanced/delayed-messages.md:9-41): rows stamped
  * `delayed_until` in the future are parked durably in `graft_delayed`
  * per (group, topic, offset) and released once due — hidden from the
  * stream, without blocking later rows. A release RE-PUBLISHES the row
  * as a NEW offset of the topic table (same transaction as the park-row
  * delete), so released traffic flows through the mainline poll path
  * under the same ack-advances-offset protocol as everything else —
  * the delivery contract is at-least-once across the WHOLE surface,
  * delayed rows included (see [[releaseDue]]).
  *
  * Ingress sanitization: the topic table is an open surface (foreign
  * writers can INSERT anything), so `_graft_`-prefixed metadata keys on
  * polled rows are dropped before delivery — engine-internal state
  * ([[graft.router.Ctx.TopicOverride]] routing, ack stamps) must come
  * from THIS engine, never from an untrusted producer.
  *
  * Tables use QUOTED lower-case identifiers so Spark's JDBC writer
  * (which quotes column names) appends cleanly into pre-created DDL.
  */
final class SqlPubSub(spark: SparkSession, url: String,
    group: String = "default", pollIntervalMs: Long = 50,
    pollPageSize: Int = 10000,
    // the hole step-over treats a gap older than this as a rolled-back
    // id; a LIVE transaction holding its commit longer than this while
    // later ids become visible has its rows skipped (and warned about)
    // — so the default is sized for real-world slow commits under
    // load, not for test latency (tests pass a small explicit value)
    gapTimeoutMs: Long = 30000,
    log: graft.core.LoggerAdapter = new graft.core.Slf4jLogger("graft.sql"),
    // graft_epochs retention: per-partition exactly-once markers accrue
    // one row per non-empty partition per micro-batch, so a long-running
    // router grows the table without bound unless swept. Markers older
    // than `epochRetentionMs` prune automatically at most once per
    // `epochSweepIntervalMs` (piggybacked on epoch publishes and
    // subscribeInitialize — zero extra round-trips between sweeps).
    // The retention default is sized FAR above any redelivery horizon
    // (a marker pruned too early downgrades a late-retried batch to
    // at-least-once — same contract as any idempotency-key TTL);
    // epochRetentionMs <= 0 disables the automatic sweep.
    epochRetentionMs: Long = 7L * 24 * 3600 * 1000,
    epochSweepIntervalMs: Long = 10L * 60 * 1000,
    // consumed-record retention: the topic table is otherwise the
    // transport's only unbounded-by-default resource. OPT-IN (default
    // 0 = off), unlike the epoch sweep: records are USER DATA, not
    // engine bookkeeping, so deleting history is an operator decision.
    // > 0 runs pruneConsumed(topic, consumedRetentionMs) automatically
    // at most once per consumedSweepIntervalMs per topic, piggybacked
    // on ack and subscribeInitialize (ack is the moment the prune
    // ceiling can advance) — with every pruneConsumed safety rule
    // intact: only below the min committed ack across groups, parked
    // delayed rows survive, NULL-ts rows are never pruned, and rows
    // inside the horizon stay for replay/audit reads.
    consumedRetentionMs: Long = 0L,
    consumedSweepIntervalMs: Long = 10L * 60 * 1000)
  extends PubSub with AckableSubscriber
  with AutoCloseable {

  /** Poller hold-state for temporary identity-id holes:
    * topic -> (first missing id, first seen ms). See [[pollOnce]]. */
  private val gapState =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Instance-local enqueue high-water mark per topic: where the
    * poller reads from while this instance is alive (seeded from the
    * durable acked offset on first poll). Durable progress is ONLY the
    * consumer ack — see the class contract. */
  private val enqueuedMark =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Topic → table name. Non-identifier chars sanitize to '_', which
    * would ALIAS distinct topics ("a.b" and "a+b" → one table, silently
    * mixed) — so any lossy sanitization appends an md5 fragment of the
    * RAW topic, and long names truncate before the fragment (Derby caps
    * identifiers at 128). Clean short names keep their readable form. */
  private def table(topic: String) = {
    val safe = topic.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (safe == topic && safe.length <= 100) "graft_t_" + topic
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(topic.getBytes("UTF-8"))
      val frag = md.take(4).map(b => f"$b%02x").mkString
      "graft_t_" + safe.take(100) + "_" + frag
    }
  }
  private def quoted(name: String) = "\"" + name + "\""

  private def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def tableExists(c: Connection, name: String): Boolean = {
    // getTables takes a LIKE pattern: '_' is a single-char wildcard,
    // so unescaped, "graft_t_a_b" also matches "graft_t_axb" and the
    // CREATE for the real table would be silently skipped. Escaping is
    // not portable (Derby's getSearchStringEscape returns ""), so the
    // wildcard matches are filtered to an EXACT name equality instead.
    val rs = c.getMetaData.getTables(null, null, name, null)
    try {
      var found = false
      while (!found && rs.next()) found = rs.getString("TABLE_NAME") == name
      found
    } finally rs.close()
  }

  /** Bookkeeping tables (offsets/delayed/epochs) store the raw topic
    * and group in VARCHAR(128); an overflow would surface only AFTER
    * delivery (storeOffset throws post-enqueue), putting the poller in
    * an infinite redelivery storm — so reject loudly at the API edge. */
  private def requireBookkeepable(s: String, what: String): Unit =
    require(s.getBytes("UTF-8").length <= 128,
      s"$what exceeds the SQL transport's 128-byte bookkeeping limit: '$s'")

  // one DDL probe per topic per INSTANCE on the hot path: publish/
  // subscribe re-initialize on every call for idempotence, and
  // un-memoized that cost four JDBC metadata round-trips per
  // micro-batch per topic. Only the INTERNAL calls memoize — the
  // public subscribeInitialize always probes, so an operator
  // recovering from a destructive outage (dropped table) can
  // explicitly re-create (SqlSpec's heal row).
  private val initialized =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def ensureInitialized(topic: String): Unit =
    if (!initialized.contains(topic)) subscribeInitialize(topic)

  /** Topic DDL (messages table + offsets table), idempotent. */
  override def subscribeInitialize(topic: String): Unit = {
    requireBookkeepable(topic, "topic")
    requireBookkeepable(group, "group")
    withConn(c => initializeImpl(c, topic))
    initialized.put(topic, true)
    maybeSweepEpochs() // lifecycle hook: long-lived routers re-init topics
    maybeSweepConsumed(topic)
  }

  private def initializeImpl(c: Connection, topic: String): Unit = {
    if (!tableExists(c, table(topic))) {
      val st = c.createStatement()
      // uuid 256 / metadata 32672 (Derby's VARCHAR max): narrower
      // columns let ONE oversized message (a 70-char foreign uuid, a
      // poison-middleware reason pushing metadata past 4000) fail the
      // INSERT with SQLDataException on every redelivery — a permanent
      // batch wedge.
      try st.executeUpdate(
        s"""CREATE TABLE ${quoted(table(topic))} (
           |  ${quoted("offset_id")} BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
           |  ${quoted("uuid")} VARCHAR(256),
           |  ${quoted("metadata")} VARCHAR(32672),
           |  ${quoted("payload")} BLOB,
           |  ${quoted("ts")} TIMESTAMP)""".stripMargin)
      catch { case _: java.sql.SQLException => () } // raced CREATE: exists
      finally st.close()
    }
    if (!tableExists(c, "graft_offsets")) {
      val st = c.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE ${quoted("graft_offsets")} (
           |  ${quoted("grp")} VARCHAR(128),
           |  ${quoted("topic")} VARCHAR(128),
           |  ${quoted("last_offset")} BIGINT,
           |  PRIMARY KEY (${quoted("grp")}, ${quoted("topic")}))""".stripMargin)
      catch { case _: java.sql.SQLException => () }
      finally st.close()
    }
    if (!tableExists(c, "graft_delayed")) {
      val st = c.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE ${quoted("graft_delayed")} (
           |  ${quoted("grp")} VARCHAR(128),
           |  ${quoted("topic")} VARCHAR(128),
           |  ${quoted("offset_id")} BIGINT,
           |  ${quoted("due_at")} TIMESTAMP,
           |  PRIMARY KEY (${quoted("grp")}, ${quoted("topic")}, ${quoted("offset_id")}))""".stripMargin)
      catch { case _: java.sql.SQLException => () }
      finally st.close()
    }
    // engine-owned record of released-delayed copies ([[releaseDue]]):
    // row visibility (which offsets are a group's private redelivery,
    // hidden from other pollers and from replay) is decided by THIS
    // table, never by row metadata — the topic table is an open surface
    // and a foreign writer stamping `_graft_delay_grp` on its own
    // inserts must not be able to hide rows from consumers or audit
    // (the same trust rule as the ingress sanitization). One row per
    // released copy, written in the release transaction; a copy offset
    // is created by exactly one release, so (topic, offset) is a key.
    if (!tableExists(c, "graft_released")) {
      val st = c.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE ${quoted("graft_released")} (
           |  ${quoted("topic")} VARCHAR(128),
           |  ${quoted("offset_id")} BIGINT,
           |  ${quoted("grp")} VARCHAR(128),
           |  PRIMARY KEY (${quoted("topic")}, ${quoted("offset_id")}))""".stripMargin)
      catch { case _: java.sql.SQLException => () }
      finally st.close()
    }
  }

  /** Driver-side publish: one call's messages commit in ONE
    * transaction, so a transaction-rollback error (SQLState class 40:
    * lock timeout, deadlock, serialization failure) left nothing behind
    * and the call retries it a bounded number of times. Embedded Derby
    * raises one (40XL1, identity-generator contention) when parallel
    * publishers make the first inserts into a freshly created table. */
  override def publish(topic: String, msgs: Seq[Message]): Unit = {
    ensureInitialized(topic)
    withConn { c =>
      val ps = c.prepareStatement(
        s"""INSERT INTO ${quoted(table(topic))}
           |(${quoted("uuid")}, ${quoted("metadata")}, ${quoted("payload")}, ${quoted("ts")})
           |VALUES (?, ?, ?, ?)""".stripMargin)
      c.setAutoCommit(false)
      try {
        def attempt(n: Int): Unit =
          try {
            msgs.foreach { m =>
              ps.setString(1, m.uuid)
              ps.setString(2, new String(graft.cqrs.JsonCodec.write(m.metadata), "UTF-8"))
              ps.setBytes(3, m.payload)
              ps.setTimestamp(4, m.ts)
              ps.addBatch()
            }
            ps.executeBatch()
            c.commit()
          } catch {
            case e: java.sql.SQLException
                if n < 3 && SqlPubSub.isTransactionRollback(e) =>
              c.rollback(); ps.clearBatch()
              Thread.sleep(20L << n)
              attempt(n + 1)
          }
        attempt(0)
      } catch { case e: Throwable => c.rollback(); throw e }
      finally { ps.close(); c.setAutoCommit(true) }
    }
  }

  /** Bulk publish through Spark's JDBC sink: the metadata map travels
    * as JSON text (JDBC has no map type); INSERTs run on executors. */
  override def publishBatch(topic: String, df: DataFrame): Unit = {
    ensureInitialized(topic)
    df.select(col("uuid"),
        to_json(col("metadata")).as("metadata"),
        col("payload"), col("ts"))
      .write.mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", quoted(table(topic)))
      .save()
  }

  /** writer_id rides VARCHAR(256) with a "#p<partition>" suffix
    * appended by the per-partition marker keys — bound the caller's id
    * so the suffixed key can never overflow AFTER delivery started.
    * The suffix is in-band in the shared `graft_epochs` keyspace, so a
    * caller-supplied id that ITSELF ends in "#p<digits>" (e.g. "job#p3")
    * reads like writer "job"'s partition-3 marker, so the suffix is
    * reserved for the per-partition keys. Router-generated ids end in
    * "-<epochId>" and can never hit this; the public API rejects the
    * ambiguous shape loudly. */
  private def requireWriterId(writerId: String): Unit = {
    require(writerId.getBytes("UTF-8").length <= 240,
      s"writerId exceeds the SQL transport's 240-byte limit: '$writerId'")
    require(!SqlPubSub.PartitionSuffix.matcher(writerId).find(),
      s"writerId '$writerId' ends in the reserved per-partition marker " +
        "suffix '#p<digits>' — it would read like another writer's " +
        "partition marker in graft_epochs")
  }

  /** Exactly-once epoch publish, EXECUTOR-PARALLEL: a one-topic call
    * into the epoch writer ([[SqlPubSub.writeEpochPartition]]) with
    * the known one-table map — no pin, no distinct job. Each non-empty
    * partition opens its own transaction and commits its rows together
    * with a marker keyed (topic, writerId + "#p" + partitionId) — a
    * replayed partition (task retry, speculative attempt, or a whole
    * micro-batch replayed from the checkpoint) hits its marker's
    * primary key and skips; a crash mid-partition rolls that
    * partition's rows and marker back together, so the retry delivers
    * it cleanly while already-committed partitions stay skipped. No
    * row ever funnels through the driver, so at bulk scale it writes
    * with the cluster, not with one JVM.
    *
    * Same determinism contract as every idempotent Spark sink: a
    * replay must produce the same rows in the same partitions
    * (Structured Streaming replays a micro-batch from the same source
    * offsets through the same plan, which satisfies it). Partitions
    * commit independently, so a failed job can leave a SUBSET of
    * partitions visible — readers see ordinary unacked rows, and the
    * retry completes the remainder exactly once. */
  override def publishEpoch(topic: String, df: DataFrame, writerId: String): Unit = {
    requireWriterId(writerId)
    ensureInitialized(topic)
    writeEpoch(df, lit(topic), Map(topic -> table(topic)), writerId)
  }

  /** Routed epoch, the router's sink: rows carry their destination in
    * `topicCol`, and each partition's ONE transaction covers every
    * destination it touches, with one marker per (destination,
    * writerId + "#p" + partitionId) — all of a partition's markers
    * commit atomically with its rows, so a replay is decided by any
    * one of them (guards in [[SqlPubSub.writeEpochPartition]] make a
    * torn replay loud, never a silent drop). The only driver work is
    * control-plane: the DISTINCT destination set (bounded by topology
    * fan-out, never data-sized) for DDL, over a pinned frame so an
    * upstream handler's flatMap never re-runs its side effects. */
  override def publishRoutedEpoch(df: DataFrame, topicCol: String,
      writerId: String): Unit = {
    requireWriterId(writerId)
    val persisted = df.persist()
    try {
      val topics = persisted.select(col(topicCol).cast("string")).distinct()
        .collect().map(_.getString(0))
      if (topics.nonEmpty) {
        topics.foreach(ensureInitialized) // driver-side DDL before executors write
        writeEpoch(persisted, col(topicCol),
          topics.map(t => t -> table(t)).toMap, writerId)
      }
    } finally { persisted.unpersist(); () }
  }

  private def writeEpoch(df: DataFrame, dest: org.apache.spark.sql.Column,
      tables: Map[String, String], writerId: String): Unit = {
    ensureEpochTable()
    maybeSweepEpochs()
    val u = url
    df.select(col("uuid"), to_json(col("metadata")).as("metadata"),
        col("payload"), col("ts"), dest.cast("string").as("_dest"))
      .foreachPartition((it: Iterator[org.apache.spark.sql.Row]) =>
        SqlPubSub.writeEpochPartition(u, tables, writerId, it))
  }

  // memoized per instance like `initialized`: the epoch path runs per
  // micro-batch, and an un-memoized DDL probe cost one extra JDBC
  // connection + metadata round-trip per publish. A destructive outage
  // (dropped marker table) surfaces loudly on the next marker insert;
  // recovery = a fresh instance (same as the topic-table contract).
  @volatile private var epochTableReady = false
  private def ensureEpochTable(): Unit = if (!epochTableReady) {
    withConn { c =>
      if (!tableExists(c, "graft_epochs")) {
        val st = c.createStatement()
        try st.executeUpdate(
          s"""CREATE TABLE ${quoted("graft_epochs")} (
             |  ${quoted("topic")} VARCHAR(128),
             |  ${quoted("writer_id")} VARCHAR(256),
             |  ${quoted("created_at")} TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
             |  ${quoted("row_count")} BIGINT,
             |  PRIMARY KEY (${quoted("topic")}, ${quoted("writer_id")}))""".stripMargin)
        catch { case _: java.sql.SQLException => () }
        finally st.close()
      }
    }
    epochTableReady = true
  }

  /** Automatic marker-retention sweep (the class-param contract): runs
    * [[pruneEpochs]] at most once per `epochSweepIntervalMs`, memoized
    * like `epochTableReady` so the steady-state cost between sweeps is
    * one volatile read — never a JDBC round-trip per publish. The
    * timestamp is claimed BEFORE the delete so concurrent publishers
    * don't stampede the sweep.
    *
    * Housekeeping must never fail the data path it piggybacks on: the
    * sweep DELETE scans `graft_epochs` while executor partition
    * transactions hold write locks on freshly inserted markers, so
    * under load it can hit the engine's lock timeout
    * (SQLTransactionRollbackException on Derby) — an error that says
    * nothing about the PUBLISH being wrapped. Sweep failures log and
    * defer to the next interval; only the explicit [[pruneEpochs]] API
    * still throws to its caller.
    *
    * The cadence is deliberately PROCESS-LOCAL: N concurrent publisher
    * instances each sweep on their own clock. The deletes are
    * idempotent, so the only cost is an occasional redundant DELETE —
    * cross-process coordination (a sweep lock row) would serialize
    * publishers to save exactly that, a bad trade. Do not "fix" this
    * into a lock. */
  @volatile private var lastEpochSweepMs = 0L
  private def maybeSweepEpochs(): Unit =
    if (epochRetentionMs > 0) {
      val now = System.currentTimeMillis()
      if (now - lastEpochSweepMs >= epochSweepIntervalMs) {
        lastEpochSweepMs = now
        try {
          val n = pruneEpochs(epochRetentionMs)
          if (n > 0) log.info(s"pruned $n epoch markers older than " +
            s"${epochRetentionMs}ms", Map("pruned" -> n.toString))
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.error("epoch marker sweep failed; markers retained " +
              "until the next interval", e, Map.empty)
        }
      }
    }

  /** Automatic consumed-record retention (the class-param contract):
    * [[maybeSweepEpochs]]' discipline applied to the TOPIC table, the
    * transport's last unbounded-by-default resource — but OPT-IN
    * (`consumedRetentionMs` defaults to 0 = off) because records are
    * user data, not engine bookkeeping. Memoized per topic: the
    * steady-state cost between sweeps is one map read per ack, never
    * a JDBC round-trip; the timestamp is claimed BEFORE the delete
    * (same non-stampede shape as the epoch sweep, same process-local
    * cadence — pruneConsumed's range deletes are idempotent).
    * Housekeeping never fails the ack it piggybacks on: failures log
    * and defer to the next interval; only the explicit
    * [[pruneConsumed]] API still throws. */
  private val lastConsumedSweepMs =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def maybeSweepConsumed(topic: String): Unit =
    if (consumedRetentionMs > 0) {
      val now = System.currentTimeMillis()
      if (now - lastConsumedSweepMs.getOrElse(topic, 0L) >=
          consumedSweepIntervalMs) {
        lastConsumedSweepMs.put(topic, now)
        try {
          val n = pruneConsumed(topic, consumedRetentionMs)
          if (n > 0) log.info(s"pruned $n fully-acked records of " +
            s"'$topic' older than ${consumedRetentionMs}ms",
            Map("topic" -> topic, "pruned" -> n.toString))
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.error(s"consumed-record sweep failed for '$topic'; " +
              "records retained until the next interval", e, Map.empty)
        }
      }
    }

  /** Housekeeping: delete epoch markers older than `olderThanMs`.
    * The marker table otherwise grows one row per micro-batch forever.
    * Retention contract: keep markers for longer than the maximum
    * redelivery horizon (a marker pruned too early downgrades a
    * late-retried batch to at-least-once) — same as any
    * idempotency-key store TTL. Returns rows deleted.
    *
    * The cutoff is DB-RELATIVE (`CURRENT_TIMESTAMP` minus the horizon
    * via the TIMESTAMPADD JDBC escape, the same clock that stamped
    * `created_at`): a driver-clock cutoff on a remote server with skew
    * ahead of the driver would prune young markers early — the silent
    * at-least-once downgrade this retention contract exists to avoid.
    * Positive horizons round UP to whole seconds (never prune early);
    * the interval is a computed integer, inlined because Derby's {fn}
    * escape does not take a parameter marker there. */
  def pruneEpochs(olderThanMs: Long): Int = withConn { c =>
    if (!tableExists(c, "graft_epochs")) 0
    else {
      val seconds =
        if (olderThanMs >= 0) (olderThanMs + 999) / 1000
        else olderThanMs / 1000
      val st = c.createStatement()
      try st.executeUpdate(
        s"""DELETE FROM ${quoted("graft_epochs")}
           |WHERE ${quoted("created_at")} <
           |  {fn TIMESTAMPADD(SQL_TSI_SECOND, ${-seconds}, CURRENT_TIMESTAMP)}""".stripMargin)
      finally st.close()
    }
  }

  /** Housekeeping: delete a topic's records that EVERY consumer group
    * with a durable offset has acked (offset ≤ the minimum committed
    * offset across `graft_offsets` rows for the topic) — the record
    * table otherwise grows forever, the transport's last unbounded
    * surface at corpus scale. Explicit-only (never piggybacked on the
    * data path): records are USER DATA, not engine bookkeeping, so the
    * operator decides when history may go. Returns rows deleted.
    *
    * Safety rules:
    *  - No registered group ⇒ nothing is deleted (MIN over an empty
    *    set is NULL and the comparison never matches) — an unconsumed
    *    topic can't be silently emptied.
    *  - Offsets parked in `graft_delayed` (any group) survive
    *    regardless of acks: the release transaction re-reads the
    *    source row to build the re-published copy.
    *  - `olderThanMs` > 0 additionally keeps rows whose message `ts`
    *    is inside the horizon — a replay/audit window. `ts` is the
    *    PRODUCER's event time (the only per-row time the schema has),
    *    so the horizon is a convenience bound, not a trust boundary;
    *    the full-ack rule is what makes deletion safe. NULL-ts rows
    *    (a foreign writer's unstamped inserts) are never pruned — the
    *    comparison is UNKNOWN on null, the same conservative keep the
    *    file transport's retention applies explicitly.
    *  - Dead weight in `graft_released` (visibility markers whose copy
    *    row was pruned) sweeps in the same call, UNCONDITIONALLY —
    *    markers orphaned by a crash between a previous prune's record
    *    deletes and its sweep clean up on the next call even when it
    *    deletes nothing.
    *  - `olderThanMs` must be >= 0: a negative horizon would flip the
    *    cutoff into the future and widen pruning to rows with future
    *    event-times — rejected loudly.
    *
    * Contracts this trades away, deliberately (Kafka's retention
    * tradeoff): a group that subscribed but has never acked holds no
    * `graft_offsets` row and does NOT pin retention; a NEW group (or a
    * `subscribeBatch` replay/audit read) sees only surviving history.
    * A group that is gone forever pins retention at its last ack until
    * [[dropGroup]] removes it.
    *
    * Deletes run in `batchSize`-offset RANGES over the primary key,
    * one transaction each: the first prune of a long-lived topic can
    * face billions of acked rows, and a single unbounded DELETE at
    * that size is an undo-log/lock-escalation failure on any real
    * engine. A crash mid-prune leaves a prefix deleted — harmless
    * (every deleted row was acked; the next prune resumes from the
    * surviving minimum). */
  def pruneConsumed(topic: String, olderThanMs: Long = 0L,
      batchSize: Long = 1000000L): Long = withConn { c =>
    requireBookkeepable(topic, "topic")
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    // a negative horizon flips TIMESTAMPADD into the FUTURE, silently
    // widening the sweep to rows with future event-times — reject it
    // loudly (still full-ack-safe, but never what the caller meant)
    require(olderThanMs >= 0, s"olderThanMs must be >= 0: $olderThanMs")
    if (!tableExists(c, table(topic))) 0L
    else {
      val seconds = (olderThanMs + 999) / 1000
      def scalarLong(sql: String, args: String*): Option[Long] = {
        val ps = c.prepareStatement(sql)
        try {
          args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) }
          val rs = ps.executeQuery()
          try {
            if (!rs.next()) None
            else { val v = rs.getLong(1); if (rs.wasNull()) None else Some(v) }
          } finally rs.close()
        } finally ps.close()
      }
      // the prune ceiling: the minimum committed ack across groups —
      // taken ONCE, so acks advancing mid-prune never widen the sweep
      val ceil = scalarLong(
        s"""SELECT MIN(${quoted("last_offset")})
           |FROM ${quoted("graft_offsets")}
           |WHERE ${quoted("topic")} = ?""".stripMargin, topic)
      val floor = scalarLong(
        s"SELECT MIN(${quoted("offset_id")}) FROM ${quoted(table(topic))}")
      var n = 0L
      (ceil, floor) match {
        case (Some(hiAll), Some(lo0)) if lo0 <= hiAll =>
          val del = c.prepareStatement(
            s"""DELETE FROM ${quoted(table(topic))}
               |WHERE ${quoted("offset_id")} > ? AND ${quoted("offset_id")} <= ?
               |  AND ${quoted("offset_id")} NOT IN (
               |    SELECT ${quoted("offset_id")} FROM ${quoted("graft_delayed")}
               |    WHERE ${quoted("topic")} = ?)
               |  AND ${quoted("ts")} <
               |    {fn TIMESTAMPADD(SQL_TSI_SECOND, ${-seconds}, CURRENT_TIMESTAMP)}""".stripMargin)
          try {
            var lo = lo0 - 1
            while (lo < hiAll) {
              val hi = math.min(lo + batchSize, hiAll)
              del.setLong(1, lo); del.setLong(2, hi); del.setString(3, topic)
              n += del.executeUpdate()
              lo = hi
            }
          } finally del.close()
        case _ => () // no registered group, or nothing below the ceiling
      }
      locally {
        // released-copy visibility markers whose record is gone are
        // dead weight (the LEFT-JOIN filter has nothing to hide);
        // markers for SURVIVING copies must stay — dropping one would
        // expose a group's private redelivery to every other group.
        // UNCONDITIONAL (not gated on n > 0): the sweep is cheap and
        // idempotent, and markers orphaned by a crash between a
        // previous prune's record deletes and its sweep must clean on
        // the next call even when that call deletes nothing
        val sweep = c.prepareStatement(
          s"""DELETE FROM ${quoted("graft_released")}
             |WHERE ${quoted("topic")} = ?
             |  AND NOT EXISTS (
             |    SELECT 1 FROM ${quoted(table(topic))} m
             |    WHERE m.${quoted("offset_id")} =
             |      ${quoted("graft_released")}.${quoted("offset_id")})""".stripMargin)
        try { sweep.setString(1, topic); sweep.executeUpdate(); () }
        finally sweep.close()
      }
      n
    }
  }

  /** Deregister a consumer group from a topic: removes its durable
    * offset (so an abandoned group stops pinning [[pruneConsumed]]'s
    * retention at its last ack) and its parked delayed rows (a dropped
    * group's private redeliveries can never be released — leaving them
    * would pin their source records forever). Its `graft_released`
    * visibility markers stay: they hide already-released copies from
    * OTHER groups, and removing them would turn those copies into
    * duplicate deliveries; the markers sweep with [[pruneConsumed]]
    * once the copies themselves age out. A group re-subscribing after
    * a drop restarts from offset 0, like any new group. Call it for
    * groups with NO live subscriber: a live poller keeps its in-memory
    * position, and its next ack simply re-registers the group at the
    * high offset instead of restarting. */
  def dropGroup(grp: String, topic: String): Unit = withConn { c =>
    requireBookkeepable(grp, "group")
    requireBookkeepable(topic, "topic")
    val off = c.prepareStatement(
      s"""DELETE FROM ${quoted("graft_offsets")}
         |WHERE ${quoted("grp")} = ? AND ${quoted("topic")} = ?""".stripMargin)
    try { off.setString(1, grp); off.setString(2, topic); off.executeUpdate(); () }
    finally off.close()
    val parked = c.prepareStatement(
      s"""DELETE FROM ${quoted("graft_delayed")}
         |WHERE ${quoted("grp")} = ? AND ${quoted("topic")} = ?""".stripMargin)
    try { parked.setString(1, grp); parked.setString(2, topic); parked.executeUpdate(); () }
    finally parked.close()
  }

  private def envelope(df: DataFrame): DataFrame =
    df.select(col("uuid"),
      from_json(col("metadata"), MapType(StringType, StringType)).as("metadata"),
      col("payload"), col("ts"))

  /** Replay view: PARTITIONED JDBC read — the offset column ranges the
    * scan across `defaultParallelism` tasks, so a large topic table
    * reads in parallel instead of through one connection (the
    * 100 TB-read knob; a 1-row table still reads fine with one range).
    * Rows recorded in the engine-owned `graft_released` table are a
    * consumer group's private released-delayed copies, not topic
    * content — replay shows each logical message once (its original
    * row). The exclusion joins on the side table, never on the
    * `_graft_delay_grp` metadata stamp: the topic table is an open
    * surface, and a metadata-keyed exclusion would let a foreign
    * writer hide its own inserted rows from the replay/audit view by
    * stamping them (the ingress-trust rule, applied to reads). */
  override def subscribeBatch(topic: String): DataFrame = {
    ensureInitialized(topic)
    val maxOff = withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MAX(${quoted("offset_id")}) FROM ${quoted(table(topic))}")
        try { if (rs.next()) rs.getLong(1) else 0L } finally rs.close()
      } finally st.close()
    }
    // the released-copy exclusion is INSIDE each partition's query
    // (LEFT JOIN … WHERE r.offset IS NULL), not a separate Spark-side
    // anti-join: two independent JDBC fetches had no shared snapshot,
    // so a release committing between them could transiently show a
    // private copy in the replay view — per-statement consistency
    // makes each row and its visibility marker atomic (the release
    // transaction writes both together)
    val escTopic = topic.replace("'", "''")
    val joined =
      s"""(SELECT m.${quoted("offset_id")}, m.${quoted("uuid")},
         |  m.${quoted("metadata")}, m.${quoted("payload")}, m.${quoted("ts")}
         |FROM ${quoted(table(topic))} m
         |LEFT JOIN ${quoted("graft_released")} r
         |  ON r.${quoted("topic")} = '$escTopic'
         |  AND r.${quoted("offset_id")} = m.${quoted("offset_id")}
         |WHERE r.${quoted("offset_id")} IS NULL) g""".stripMargin
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", joined)
    val partitioned =
      if (maxOff > 1)
        r.option("partitionColumn", quoted("offset_id"))
          .option("lowerBound", "1")
          .option("upperBound", (maxOff + 1).toString)
          .option("numPartitions",
            math.min(spark.sparkContext.defaultParallelism, maxOff).toString)
      else r
    envelope(partitioned.load())
  }

  // ---- CDC-style polling subscribe ----

  private val broker = new MemoryPubSub(spark)
  private val pollers =
    scala.collection.concurrent.TrieMap.empty[String, Thread]
  @volatile private var running = true

  private def storedOffset(c: Connection, topic: String): Long = {
    val ps = c.prepareStatement(
      s"""SELECT ${quoted("last_offset")} FROM ${quoted("graft_offsets")}
         |WHERE ${quoted("grp")} = ? AND ${quoted("topic")} = ?""".stripMargin)
    try {
      ps.setString(1, group); ps.setString(2, topic)
      val rs = ps.executeQuery()
      try { if (rs.next()) rs.getLong(1) else 0L } finally rs.close()
    } finally ps.close()
  }

  /** Monotonic upsert: a lower offset never regresses the mark, so a
    * late retried batch's re-ack (or a released delayed row's old
    * offset) is a harmless no-op. */
  private def storeOffset(c: Connection, topic: String, off: Long): Unit = {
    val up = c.prepareStatement(
      s"""UPDATE ${quoted("graft_offsets")} SET ${quoted("last_offset")} = ?
         |WHERE ${quoted("grp")} = ? AND ${quoted("topic")} = ?
         |  AND ${quoted("last_offset")} < ?""".stripMargin)
    val updated =
      try { up.setLong(1, off); up.setString(2, group); up.setString(3, topic); up.setLong(4, off); up.executeUpdate() }
      finally up.close()
    if (updated == 0) {
      val ins = c.prepareStatement(
        s"""INSERT INTO ${quoted("graft_offsets")}
           |(${quoted("grp")}, ${quoted("topic")}, ${quoted("last_offset")})
           |VALUES (?, ?, ?)""".stripMargin)
      // updated==0 means either no row yet, or the row holds a HIGHER
      // offset (monotonic guard, correct no-op). Try the INSERT; a
      // PK violation means another caller created the row mid-race —
      // re-run the GUARDED update so a higher offset still lands and a
      // lower one still no-ops.
      val raced =
        try { ins.setString(1, group); ins.setString(2, topic); ins.setLong(3, off); ins.executeUpdate(); false }
        catch { case e: java.sql.SQLException if SqlPubSub.isDuplicateKey(e) => true }
        finally ins.close()
      if (raced) {
        val up2 = c.prepareStatement(
          s"""UPDATE ${quoted("graft_offsets")} SET ${quoted("last_offset")} = ?
             |WHERE ${quoted("grp")} = ? AND ${quoted("topic")} = ?
             |  AND ${quoted("last_offset")} < ?""".stripMargin)
        try { up2.setLong(1, off); up2.setString(2, group); up2.setString(3, topic); up2.setLong(4, off); up2.executeUpdate(); () }
        finally up2.close()
      }
    }
  }

  /** Consumer ack ([[AckableSubscriber]]): advance the group's durable
    * offset to `upTo` (monotonic). Called by the router sink after a
    * successful downstream commit with the batch's max
    * `metadata[Ctx.AckOffset]`. */
  override def ack(topic: String, upTo: Long): Unit = {
    withConn { c => storeOffset(c, topic, upTo) }
    // lifecycle hook: the ack just advanced (or re-affirmed) the
    // group's committed offset — the moment the prune ceiling can move
    maybeSweepConsumed(topic)
  }

  /** Delay metadata → due timestamp. Absent or malformed metadata
    * (foreign writers can stamp anything) means deliverable now. */
  private def dueAt(m: Message): Option[Timestamp] = {
    val s = m.get(graft.router.Ctx.DelayedUntil)
    val due = graft.delay.Delay.dueMs(s)
    if (due.isEmpty && s.nonEmpty)
      log.info(s"unparseable ${graft.router.Ctx.DelayedUntil}='$s'; delivering now")
    due.map(new Timestamp(_))
  }

  /** Park not-yet-due rows durably, keyed (group, topic, offset) — a
    * re-examined row (crash between park and offset store) hits the
    * primary key and is ignored. */
  private def parkDelayed(c: Connection, topic: String,
      rows: Seq[(Long, Timestamp)]): Unit = if (rows.nonEmpty) {
    val ps = c.prepareStatement(
      s"""INSERT INTO ${quoted("graft_delayed")}
         |(${quoted("grp")}, ${quoted("topic")}, ${quoted("offset_id")}, ${quoted("due_at")})
         |VALUES (?, ?, ?, ?)""".stripMargin)
    try rows.foreach { case (off, due) =>
      try {
        ps.setString(1, group); ps.setString(2, topic)
        ps.setLong(3, off); ps.setTimestamp(4, due)
        ps.executeUpdate(); ()
      } catch { case e: java.sql.SQLException if SqlPubSub.isDuplicateKey(e) => () }
    } finally ps.close()
  }

  /** Release parked rows whose due time has passed by RE-PUBLISHING
    * each as a NEW row of the topic table, in the SAME transaction as
    * the park-row delete. The released copy then flows through the
    * mainline poll path at its new offset — which is ahead of the ack
    * mark — so the ack-advances-offset protocol covers it: a crash
    * between release and the consumer's downstream commit REDELIVERS
    * the row to the next incarnation. (The previous side-door enqueue
    * delivered the row under its ORIGINAL offset, already behind the
    * ack mark once later mainline rows were acked — a crash in that
    * window lost the row permanently, the last at-most-once corner of
    * this transport.)
    *
    * Crash windows: before commit → the transaction rolls back, the
    * row stays parked and is released next tick (no loss, no dup);
    * after commit → the copy is an ordinary unacked row, mainline
    * at-least-once applies. DELETE-then-INSERT inside the transaction
    * keeps concurrent same-group instances from double-releasing (the
    * loser's delete matches 0 rows and skips the insert).
    *
    * The copy is recorded in the ENGINE-OWNED `graft_released` table
    * (same transaction): it is THIS group's private redelivery — every
    * other group still releases the original row on its own schedule —
    * so other groups' pollers skip it and [[subscribeBatch]] hides it
    * from the replay view. Visibility is decided by that side table,
    * NOT by the [[graft.router.Ctx.DelayGroup]] metadata stamp (still
    * written for human debugging, ignored by the engine): the topic
    * table is an open surface, and trusting a metadata key would let a
    * foreign writer hide its own inserted rows from consumers and
    * replay by stamping them. */
  private def releaseDue(c: Connection, topic: String): Unit = {
    val sel = c.prepareStatement(
      s"""SELECT d.${quoted("offset_id")}, m.${quoted("uuid")}, m.${quoted("metadata")},
         |  m.${quoted("payload")}, m.${quoted("ts")}
         |FROM ${quoted("graft_delayed")} d
         |JOIN ${quoted(table(topic))} m ON d.${quoted("offset_id")} = m.${quoted("offset_id")}
         |WHERE d.${quoted("grp")} = ? AND d.${quoted("topic")} = ?
         |  AND d.${quoted("due_at")} <= CURRENT_TIMESTAMP
         |ORDER BY d.${quoted("offset_id")}""".stripMargin)
    val due = scala.collection.mutable.ArrayBuffer.empty[(Long, Message)]
    try {
      sel.setString(1, group); sel.setString(2, topic)
      val rs = sel.executeQuery()
      try while (rs.next()) due += rs.getLong(1) -> rowMessage(rs)
      finally rs.close()
    } finally sel.close()
    if (due.nonEmpty) {
      c.setAutoCommit(false)
      try {
        val del = c.prepareStatement(
          s"""DELETE FROM ${quoted("graft_delayed")}
             |WHERE ${quoted("grp")} = ? AND ${quoted("topic")} = ? AND ${quoted("offset_id")} = ?""".stripMargin)
        val ins = c.prepareStatement(
          s"""INSERT INTO ${quoted(table(topic))}
             |(${quoted("uuid")}, ${quoted("metadata")}, ${quoted("payload")}, ${quoted("ts")})
             |VALUES (?, ?, ?, ?)""".stripMargin,
          java.sql.Statement.RETURN_GENERATED_KEYS)
        val rel = c.prepareStatement(
          s"""INSERT INTO ${quoted("graft_released")}
             |(${quoted("topic")}, ${quoted("offset_id")}, ${quoted("grp")})
             |VALUES (?, ?, ?)""".stripMargin)
        try due.foreach { case (off, m) =>
          del.setString(1, group); del.setString(2, topic); del.setLong(3, off)
          if (del.executeUpdate() == 1) {
            val stamped = m.withMeta(graft.router.Ctx.DelayGroup, group)
            ins.setString(1, stamped.uuid)
            ins.setString(2,
              new String(graft.cqrs.JsonCodec.write(stamped.metadata), "UTF-8"))
            ins.setBytes(3, stamped.payload)
            ins.setTimestamp(4, stamped.ts)
            ins.executeUpdate()
            // release record rides the SAME transaction: the copy row
            // and its engine-owned visibility marker commit atomically,
            // so no poller can ever observe one without the other
            val keys = ins.getGeneratedKeys
            val newOff =
              try { require(keys.next(), "no generated offset"); keys.getLong(1) }
              finally keys.close()
            rel.setString(1, topic); rel.setLong(2, newOff); rel.setString(3, group)
            rel.executeUpdate(); ()
          }
        } finally { del.close(); ins.close(); rel.close() }
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.setAutoCommit(true)
    }
  }

  /** Envelope off a (offset_id, uuid, metadata, payload, ts) result row. */
  private def rowMessage(rs: java.sql.ResultSet): Message = {
    // validated read: this engine only ever WRITES string values, so a
    // non-string here is row corruption — fail at the parse with the
    // offending key named, not at Row-encode with an encoder trace
    val meta = Option(rs.getString(3))
      .map(s => graft.cqrs.JsonCodec.readStringMap(s.getBytes("UTF-8")))
      .getOrElse(Map.empty[String, String])
    Message(rs.getString(2), meta,
      Option(rs.getBytes(4)).getOrElse(Array.emptyByteArray),
      Option(rs.getTimestamp(5)).getOrElse(new Timestamp(0L)))
  }

  /** One poll tick. Transport-side delayed consumption (the reference
    * documents this for exactly its SQL transport,
    * docs/content/advanced/delayed-messages.md:9-41): a row stamped
    * `delayed_until` in the future is HIDDEN — parked in
    * `graft_delayed` instead of delivered — and released by
    * [[releaseDue]] once due. Later undelayed rows are NOT blocked
    * behind a pending delay (queue semantics; delivery order across a
    * delay is due-time order, not insert order — same deviation the
    * reference accepts by hiding rows). */
  private def pollOnce(c: Connection, topic: String): Unit = {
    val from = enqueuedMark.getOrElse(topic, storedOffset(c, topic))
    // LEFT JOIN the engine-owned release record: a non-null rel grp
    // marks the row as a group's private released-delayed copy. The
    // copy row and its record commit in one transaction (releaseDue),
    // so this read sees both or neither.
    val ps = c.prepareStatement(
      s"""SELECT m.${quoted("offset_id")}, m.${quoted("uuid")}, m.${quoted("metadata")},
         |  m.${quoted("payload")}, m.${quoted("ts")}, r.${quoted("grp")}
         |FROM ${quoted(table(topic))} m
         |LEFT JOIN ${quoted("graft_released")} r
         |  ON r.${quoted("topic")} = ? AND r.${quoted("offset_id")} = m.${quoted("offset_id")}
         |WHERE m.${quoted("offset_id")} > ?
         |ORDER BY m.${quoted("offset_id")}
         |FETCH FIRST $pollPageSize ROWS ONLY""".stripMargin)
    try {
      ps.setString(1, topic)
      ps.setLong(2, from)
      val rs = ps.executeQuery()
      val page =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Message, Option[String])]
      try {
        while (rs.next())
          page += ((rs.getLong(1), rowMessage(rs), Option(rs.getString(6))))
      } finally rs.close()
      // Contiguous-prefix guard: identity ids are assigned BEFORE a
      // publisher's transaction commits, so a slow concurrent commit
      // leaves a temporary HOLE below rows already visible — advancing
      // the stored offset past the hole would skip those rows forever
      // once they commit (silent loss). Deliver only the contiguous
      // prefix; a hole persisting past gapTimeoutMs is a rolled-back
      // id (permanent) and is stepped over, one hole per timeout.
      val deliverable: Seq[(Long, Message, Option[String])] =
        if (page.isEmpty) Nil
        else {
          var prefixLen = 0
          var expected = from + 1
          while (prefixLen < page.length && page(prefixLen)._1 == expected) {
            prefixLen += 1; expected += 1
          }
          if (prefixLen == page.length) { gapState.remove(topic); page.toSeq }
          else {
            val firstMissing = expected
            val now = System.currentTimeMillis()
            gapState.get(topic) match {
              case Some((miss, seen))
                  if miss == firstMissing && now - seen > gapTimeoutMs =>
                // permanent hole: step over it and take the next
                // contiguous run (further holes get their own timeout)
                gapState.remove(topic)
                var runEnd = prefixLen + 1
                var exp2 = page(prefixLen)._1 + 1
                while (runEnd < page.length && page(runEnd)._1 == exp2) {
                  runEnd += 1; exp2 += 1
                }
                // WARN, not info: if the hole was actually a
                // slower-than-timeout commit, its rows are now lost —
                // operators need this surfaced, with the id range,
                // to correlate against long-transaction alerts
                log.warn(s"sql poller: stepping over id hole at " +
                  s"$firstMissing..${page(prefixLen)._1 - 1} on topic " +
                  s"'$topic' after ${gapTimeoutMs}ms — rows from a " +
                  s"transaction committing later than that are lost",
                  Map.empty)
                page.take(runEnd).toSeq
              case Some((miss, _)) if miss == firstMissing =>
                page.take(prefixLen).toSeq // hole still pending
              case _ =>
                gapState.update(topic, (firstMissing, now))
                page.take(prefixLen).toSeq
            }
          }
        }
      if (deliverable.nonEmpty) {
        val now = System.currentTimeMillis()
        // rows released by ANOTHER group's releaseDue (per the engine-
        // owned graft_released record — NEVER per row metadata, which a
        // foreign writer controls) are that group's private redelivery
        // — skip them (this group releases the ORIGINAL row on its own
        // schedule); the mark still advances over them like over any
        // non-deliverable id
        val mine = deliverable.filter { case (_, _, relGrp) =>
          relGrp.isEmpty || relGrp.contains(group)
        }
        // a group-own released copy is ALWAYS ready: releaseDue's
        // predicate (DB CURRENT_TIMESTAMP) already judged it due, and
        // re-checking against the JVM clock here would, under DB-ahead
        // clock skew, re-park the copy — which releaseDue would then
        // re-release as yet ANOTHER row, appending one junk row per
        // poll tick until the JVM clock catches up (a release loop).
        // One release decision per row, made by one clock.
        val (delayed, ready) = mine
          .map { case (off, m, relGrp) => (off, m, relGrp, dueAt(m)) }
          .partition { case (_, _, relGrp, due) =>
            due.exists(_.getTime > now) && relGrp.isEmpty
          }
        parkDelayed(c, topic, // park FIRST: crash before mark advance re-parks, never loses
          delayed.map { case (off, _, _, due) => (off, due.get) })
        if (ready.nonEmpty)
          // each message carries its source offset so the consumer can
          // ack processing back ([[ack]]); durable offsets do NOT move
          // here — an enqueued-but-never-processed batch must redeliver
          // to a fresh instance. Deliveries are SANITIZED first: the
          // table is an open surface, and a foreign `_graft_` stamp
          // (routing override, forged ack offset) must never enter the
          // engine as trusted state — only the poller's own ack stamp
          // (and the router's ctx injection) may exist internally.
          broker.publish(topic, ready.map { case (off, m, _, _) =>
            m.copy(metadata = graft.router.Ctx.sanitizeMeta(m.metadata))
              .withMeta(graft.router.Ctx.AckOffset, off.toString)
          }.toSeq)
        enqueuedMark(topic) = deliverable.last._1
      }
    } finally ps.close()
    releaseDue(c, topic)
  }

  /** Streaming subscribe: starts (once per topic) a poller tailing the
    * table into the in-process broker and returns the broker's stream. */
  override def subscribe(topic: String): DataFrame = {
    ensureInitialized(topic)
    val df = broker.subscribe(topic) // MemoryStream must exist BEFORE rows arrive
    pollers.getOrElseUpdate(topic, {
      // The poller must survive transient DB failures (outage, lock
      // timeout, offset-upsert races): an escaping exception would kill
      // the daemon thread while `pollers` still holds it, silently
      // stalling the subscribe forever. So any Throwable from the poll
      // loop is logged and retried with exponential backoff on a FRESH
      // connection (the old one may be poisoned); only interrupt/close
      // ends the loop.
      val t = new Thread(() => {
        var interrupted = false
        var backoff = math.max(pollIntervalMs, 50L)
        while (running && !interrupted) {
          try {
            val c = DriverManager.getConnection(url)
            try while (running) {
              pollOnce(c, topic)
              backoff = math.max(pollIntervalMs, 50L) // healthy poll resets backoff
              Thread.sleep(pollIntervalMs)
            } finally c.close()
          } catch {
            case _: InterruptedException => interrupted = true
            case e: Throwable =>
              if (running) {
                log.error(s"sql poller for topic '$topic' failed; " +
                  s"reconnecting after ${backoff}ms", e)
                try Thread.sleep(backoff)
                catch { case _: InterruptedException => interrupted = true }
                backoff = math.min(backoff * 2, 10000L)
              }
          }
        }
      }, s"graft-sql-poll-$topic")
      t.setDaemon(true)
      t.start()
      t
    })
    df
  }

  /** Block until the poller has drained everything currently in the
    * table for `topic` (test/drain helper, like processAllAvailable). */
  /** Block until the poller has ENQUEUED every row currently in the
    * topic table (drain helper for tests/benches). This is the enqueue
    * mark, not the durable ack — a consumer that never acks still
    * counts as caught up once the rows are in its stream. */
  def awaitCaughtUp(topic: String, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    withConn { c =>
      def maxOffset: Long = {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT MAX(${quoted("offset_id")}) FROM ${quoted(table(topic))}")
          try { if (rs.next()) rs.getLong(1) else 0L } finally rs.close()
        } finally st.close()
      }
      val target = maxOffset
      def mark: Long =
        enqueuedMark.getOrElse(topic, storedOffset(c, topic))
      while (System.currentTimeMillis() < deadline && mark < target)
        Thread.sleep(20)
    }
  }

  override def close(): Unit = {
    running = false
    pollers.values.foreach(_.interrupt())
    pollers.clear()
  }
}

/** Executor-side partition writer for the exactly-once epoch paths.
  * Static on purpose: the closures shipped by [[SqlPubSub.publishEpoch]]
  * / [[SqlPubSub.publishRoutedEpoch]] capture only strings and a small
  * topic→table map, never the (non-serializable) transport instance —
  * each task opens its own JDBC connection, the watermill-SQL model
  * (inserts run in the consuming/producing process) made
  * partition-parallel. */
object SqlPubSub {

  /** The reserved in-band per-partition marker key suffix — see
    * [[SqlPubSub.requireWriterId]]. */
  private[sources] val PartitionSuffix =
    java.util.regex.Pattern.compile("#p\\d+$")

  private def q(name: String) = "\"" + name + "\""

  private def insertSql(tbl: String) =
    s"""INSERT INTO ${q(tbl)}
       |(${q("uuid")}, ${q("metadata")}, ${q("payload")}, ${q("ts")})
       |VALUES (?, ?, ?, ?)""".stripMargin

  /** Marker insert inside an open per-partition transaction: true if
    * fresh, false if a prior attempt of this partition already
    * committed (primary-key hit; Derby/ANSI statement-level abort
    * leaves the transaction usable). A CONCURRENT attempt (speculative
    * task) blocks on the first attempt's uncommitted marker row and
    * resolves to dup-or-fresh when it commits or rolls back. */
  private def insertMarker(c: Connection, topic: String, key: String): Boolean = {
    val ps = c.prepareStatement(
      s"""INSERT INTO ${q("graft_epochs")}
         |(${q("topic")}, ${q("writer_id")}) VALUES (?, ?)""".stripMargin)
    try { ps.setString(1, topic); ps.setString(2, key); ps.executeUpdate(); true }
    catch { case e: java.sql.SQLException if isDuplicateKey(e) => false }
    finally ps.close()
  }

  /** Duplicate-key detection across JDBC drivers: Derby throws the
    * `SQLIntegrityConstraintViolationException` subclass, but
    * PostgreSQL's driver throws a PLAIN SQLException carrying SQLState
    * 23505 (and MySQL 23000) — matching only the subclass turns every
    * dup-skip path into a fatal error on those engines: a replayed
    * epoch becomes a task-retry storm instead of a clean skip, and a
    * raced offset insert kills the ack. SQLState class 23 is the
    * SQL-standard integrity-constraint-violation class, the portable
    * signal; the subclass check keeps drivers that set no SQLState. */
  private[sources] def isDuplicateKey(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      Option(e.getSQLState).exists(_.startsWith("23"))

  /** SQLState class 40, transaction rollback, on the exception or its
    * cause chain (a BatchUpdateException may carry the state only on
    * the statement error it wraps). */
  private[sources] def isTransactionRollback(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: java.sql.SQLException => Option(s.getSQLState).exists(_.startsWith("40"))
      case _ => false
    }

  /** Stamp the committed row count onto an open transaction's marker
    * (inserted NULL, updated once the partition iterator is drained —
    * both commit atomically, so every visible marker carries its exact
    * count). */
  private def setMarkerCount(c: Connection, topic: String, key: String,
      n: Long): Unit = {
    val ps = c.prepareStatement(
      s"""UPDATE ${q("graft_epochs")} SET ${q("row_count")} = ?
         |WHERE ${q("topic")} = ? AND ${q("writer_id")} = ?""".stripMargin)
    try {
      ps.setLong(1, n); ps.setString(2, topic); ps.setString(3, key)
      ps.executeUpdate(); ()
    } finally ps.close()
  }

  /** Every destination the committed attempt of partition key `key`
    * touched, with its committed row count. ONE query replaces a
    * per-destination probe loop — keys are exact (the "#p<pid>" suffix
    * is reserved by requireWriterId, so no foreign writerId can alias
    * into this set). */
  private def committedMarkers(c: Connection,
      key: String): Map[String, Long] = {
    val ps = c.prepareStatement(
      s"""SELECT ${q("topic")}, ${q("row_count")} FROM ${q("graft_epochs")}
         |WHERE ${q("writer_id")} = ?""".stripMargin)
    try {
      ps.setString(1, key)
      val rs = ps.executeQuery()
      try {
        val b = Map.newBuilder[String, Long]
        while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
        b.result()
      } finally rs.close()
    } finally ps.close()
  }

  private def addRow(ins: java.sql.PreparedStatement,
      r: org.apache.spark.sql.Row): Unit = {
    ins.setString(1, r.getString(0))
    ins.setString(2, r.getString(1))
    ins.setBytes(3, r.getAs[Array[Byte]](2))
    ins.setTimestamp(4, r.getTimestamp(3))
    ins.addBatch()
  }

  private def withPartitionTxn(url: String)(body: Connection => Unit): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      try body(c)
      catch { case e: Throwable =>
        try c.rollback() catch { case _: java.sql.SQLException => () }
        throw e
      }
    } finally {
      try c.setAutoCommit(true) catch { case _: java.sql.SQLException => () }
      c.close()
    }
  }

  /** One partition's exactly-once write, behind both epoch entry
    * points. Rows are the pre-projected (uuid, metadata-json, payload,
    * ts, destination) shape; every destination the partition touches
    * gets a marker, and ALL markers + ALL rows commit in one
    * transaction (each destination's JDBC batch flushes every 1000
    * rows). Empty partitions write nothing, not even a marker.
    *
    * A replay resolves off its FIRST marker probe: fresh ⇒ write
    * everything, dup ⇒ skip everything. Anything else means the replay
    * produced different partition contents than the committed attempt
    * (broken sink determinism — e.g. shuffle partitions or AQE changed
    * across a checkpoint restart): a mixed probe, a different
    * destination set, or a per-destination count that differs from
    * its marker's fails LOUDLY instead of silently dropping or
    * duplicating rows. */
  private[sources] def writeEpochPartition(url: String,
      tables: Map[String, String], writerId: String,
      it: Iterator[org.apache.spark.sql.Row]): Unit = {
    if (!it.hasNext) return
    val pid = org.apache.spark.TaskContext.getPartitionId()
    val key = s"$writerId#p$pid"
    withPartitionTxn(url) { c =>
      val stmts = scala.collection.mutable.Map.empty[String, java.sql.PreparedStatement]
      val seen = scala.collection.mutable.Set.empty[String]
      val counts = scala.collection.mutable.Map.empty[String, Long]
      var fresh = 0
      var dup = false
      try {
        while (it.hasNext && !(dup && fresh == 0)) {
          val r = it.next()
          val t = r.getString(4)
          counts.update(t, counts.getOrElse(t, 0L) + 1)
          if (seen.add(t)) {
            if (insertMarker(c, t, key)) fresh += 1 else dup = true
            if (dup && fresh > 0)
              throw new IllegalStateException(
                s"epoch replay diverged on partition $pid of " +
                  s"writer '$writerId': destination '$t' was already " +
                  "committed but another destination in this partition " +
                  "was not — the replay produced different partition " +
                  "contents than the committed attempt")
          }
          if (!dup) {
            val ins = stmts.getOrElseUpdate(t, c.prepareStatement(insertSql(tables(t))))
            addRow(ins, r)
            if (counts(t) % 1000 == 0) ins.executeBatch()
          }
        }
        if (dup) {
          // prior commit: roll back FIRST (a constraint hit aborts the
          // whole transaction on engines like PostgreSQL, and any
          // statement inside an aborted transaction throws — Derby's
          // statement-level abort is the lenient case), THEN verify the
          // replay against the committed attempt. All of a partition's
          // markers committed atomically, so ONE writer_id-keyed query
          // yields the full committed (destination → row count) map:
          // a replay destination that was never committed, a committed
          // destination missing from the replay, or a per-destination
          // count mismatch all mean broken sink determinism — loud,
          // never a silent drop or duplicate
          c.rollback()
          while (it.hasNext) {
            val t = it.next().getString(4)
            counts.update(t, counts.getOrElse(t, 0L) + 1)
          }
          val committed = committedMarkers(c, key)
          def diverged(what: String): Nothing =
            throw new IllegalStateException(
              s"epoch replay diverged on partition $pid of " +
                s"writer '$writerId': $what — the replay produced " +
                "different partition contents than the committed attempt")
          counts.keysIterator.foreach { t =>
            if (!committed.contains(t))
              diverged(s"destination '$t' appears in the replay but was " +
                "not part of the committed attempt")
          }
          committed.foreach { case (t, n) =>
            if (!counts.contains(t))
              diverged(s"committed destination '$t' is missing from the replay")
            if (n != counts(t))
              diverged(s"destination '$t' committed $n rows but the " +
                s"replay produced ${counts(t)}")
          }
        } else {
          stmts.foreach { case (t, ins) => if (counts(t) % 1000 != 0) ins.executeBatch() }
          counts.foreach { case (t, n) => setMarkerCount(c, t, key, n) }
          c.commit()
        }
      } finally stmts.valuesIterator.foreach(s =>
        try s.close() catch { case _: java.sql.SQLException => () })
    }
  }
}
