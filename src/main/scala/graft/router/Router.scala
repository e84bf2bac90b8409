package graft.router

import java.nio.file.Files

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Message
import graft.sources.{Publisher, Subscriber}
import Middlewares.{Handler, Middleware}

/** Dataset-level transform applied to the message stream before the
  * per-message handler runs (streaming dedup, sampling, …). Unlike a
  * [[Middlewares.Middleware]] these can introduce stateful Spark
  * operators (watermarks, aggregations). */
object Stages {
  type Stage = Dataset[Message] => Dataset[Message]
}

/** Per-handler execution knobs. `Throttle` is the reference's
  * rate-limit middleware (middleware/throttle.go:11-31) mapped to its
  * Spark-native home: source-rate options + trigger interval, because
  * rate limiting in a micro-batch engine is a property of how much the
  * source hands each trigger, not a per-row gate. `maxPerTrigger`
  * reaches transports that support it (Kafka `maxOffsetsPerTrigger`,
  * files `maxFilesPerTrigger`); MemoryStream has no rate knob. */
final case class HandlerOptions(
    trigger: Option[Trigger] = None,
    maxPerTrigger: Option[Long] = None)

/** Batch-granular circuit breaker, parity with
  * middleware/circuit_breaker.go:11-37 (closed/open/half-open),
  * re-based on micro-batch delivery semantics. A batch is never
  * skipped (skipping would commit its offsets and silently drop it):
  *
  *  - closed, failure below the trip threshold → rethrow. The batch
  *    stays uncommitted; restart redelivers it — the nack path.
  *  - tripped (maxFailures consecutive failures) → OPEN: sleep the
  *    cooldown, then probe by retrying the SAME batch in place
  *    (half-open). Success closes the circuit; failure keeps it open
  *    for another cooldown, up to `maxOpenCycles` before giving up
  *    (rethrow → external restart policy takes over).
  *
  * So persistent downstream outages degrade to paced probes instead of
  * hammering — the reference's fail-fast intent — while at-least-once
  * delivery is preserved throughout. Driver-side state only.
  */
final class CircuitBreaker(maxFailures: Int, cooldownMs: Long,
    maxOpenCycles: Int = 1000,
    sleep: Long => Unit = Thread.sleep) {
  private var consecutive = 0
  private var open = false

  def isOpen: Boolean = synchronized(open)

  /** Runs body with the policy above; always either completes the
    * batch or throws — never drops it. */
  def protect(body: => Unit): Unit = {
    var openCycles = 0
    while (true) {
      val waitMs = synchronized { if (open) cooldownMs else 0L }
      if (waitMs > 0) sleep(waitMs) // paced half-open probe
      try {
        body
        synchronized { consecutive = 0; open = false }
        return
      } catch {
        // an interrupt is the ENGINE stopping the query (router.close →
        // query.stop), not a downstream failure — counting it as a
        // probe would swallow the interrupt and keep stop() blocked for
        // up to maxOpenCycles × cooldown
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case e: Throwable =>
          val giveUp = synchronized {
            if (open) {
              openCycles += 1 // failed probe: stay open
              openCycles >= maxOpenCycles
            } else {
              consecutive += 1
              if (consecutive >= maxFailures) { open = true; consecutive = 0; false }
              else true // below threshold: fail the batch (nack), don't loop
            }
          }
          if (giveUp) throw e
      }
    }
  }
}

private[router] final case class HandlerDef(
    name: String,
    subscribeTopic: String,
    subscriber: Subscriber,
    publishTopic: Option[String],
    publisher: Option[Publisher],
    handler: Handler,
    middlewares: Seq[Middleware],
    stages: Seq[Stages.Stage],
    options: HandlerOptions,
    breaker: Option[CircuitBreaker])

/** The engine's core wiring API, parity with `message.Router`
  * (reference: message/router.go:140-174 AddHandler, :386-422 Run,
  * :563-609 Close). Each handler is one independent StreamingQuery:
  *
  *   subscriber.subscribe(topic)            — streaming envelope scan
  *     → [stages]                           — dataset-level ops (dedup…)
  *     → flatMap(middleware-onion(handler)) — ONE codegen'd stage
  *     → foreachBatch sink                  — per-row topic routing
  *
  * Scale notes: the handler chain is a single narrow transform — no
  * shuffle unless a stage introduces one; the sink groups rows by
  * destination topic with a driver-side distinct over the handful of
  * topic values (bounded by handler config, not data volume); offsets
  * commit per micro-batch, which is the ack unit (SURVEY.md §7.4 —
  * row-level failures route to poison/retry topics instead of failing
  * the batch, exactly the reference's production PoisonQueue pattern).
  */
/** @param group consumer-group id (test_pubsub.go:817 semantics): each
  *   group is an independent set of streaming queries with its own
  *   checkpoint lineage — every group sees every message. Distinct
  *   groups may reuse handler names within one SparkSession.
  */
final class Router(spark: SparkSession, checkpointRoot: Option[String] = None,
    group: Option[String] = None) {

  private val routerMiddlewares = mutable.ArrayBuffer.empty[Middleware]
  private val routerStages = mutable.ArrayBuffer.empty[Stages.Stage]
  private val plugins = mutable.ArrayBuffer.empty[Router => Unit]
  private val handlers = mutable.LinkedHashMap.empty[String, HandlerDef]
  private val queries = TrieMap.empty[String, StreamingQuery]

  /** Control-plane lock. [[run]]'s check-replace-start, [[stopHandler]]'s
    * stop-and-remove, and [[close]]'s stop-everything are each a
    * multi-step sequence over `queries` + `spark.streams`; TrieMap makes
    * the individual steps atomic but not the sequences. Unserialized, a
    * concurrent stopHandler/run pair can interleave so that run()
    * observes the stopped-but-not-yet-removed entry, replaces it and
    * starts a NEW query — which stopHandler's pending remove then
    * deregisters while it keeps running: a live StreamingQuery invisible
    * to [[running]] and unreachable by [[close]], and a later run()
    * fails with Spark's same-checkpoint-already-active error. One lock
    * over all three control-plane mutators (the reference serializes its
    * lifecycle the same way — message/router.go:563-609's close-once
    * discipline). Held across q.stop()/writer.start() — potentially
    * SECONDS — which is why the registration surface gets its own
    * short-held [[regLock]] instead: an awaitHandlerStopped lookup or
    * an addHandler must not block behind a wedged stop. Lock order is
    * controlLock → regLock, never the reverse (registration never
    * touches the control plane), so the pair cannot deadlock. */
  private val controlLock = new Object

  /** Registration lock: guards the plain LinkedHashMap/ArrayBuffer
    * collections (`handlers`, `plugins`, `routerMiddlewares`,
    * `routerStages`) against torn reads — run() snapshots them under
    * it inside its critical section, so an unlocked registration can
    * never be a ConcurrentModificationException out of the walk or a
    * silently skipped handler. Critical sections are map/buffer ops
    * only (microseconds): [[awaitHandlerStopped]]'s lookup and the
    * add* methods stay effectively non-blocking even while the
    * control plane is mid-stop. A handler registered while run() is
    * walking its snapshot starts on the NEXT run() — same contract as
    * registering right after run() returns. Registration inside a
    * running plugin stays legal (monitor reentrancy). */
  private val regLock = new Object

  /** True when this router deregistered a query since the last run()'s
    * reset — stopHandler, close, or run()'s own replacement walk (a
    * crash landing between run()'s reset and its walk writes a record
    * the reset never saw). A deregistered query's stale termination
    * record would make a supervisor's awaitAnyTermination rethrow an
    * already-recovered crash (or spin on a clean-stop record); run()
    * consumes the flag (under the control lock) to clear the session
    * record before restarting, bounding the rethrow to at most once
    * per actual termination. */
  private var stoppedSinceRun = false

  /** The ONE deregistration site (callers hold [[controlLock]]):
    * removes exactly the given query object (conditional remove —
    * belt-and-braces against any future unlocked path swapping the
    * entry; a restarted query must never be silently deregistered by
    * a stale stop) and, unless the caller knows the record was
    * already cleared (`markStale = false`, run()'s dead-at-reset
    * case), marks the session's termination record stale for the
    * next run()'s reset. */
  private def deregister(name: String, q: StreamingQuery,
      markStale: Boolean = true): Unit = {
    if (markStale) stoppedSinceRun = true
    queries.remove(name, q); ()
  }

  /** Test seam: runs inside [[stopHandler]]'s critical section, between
    * `q.stop()` returning and the registry removal — the exact window
    * the control lock exists to protect. Production value is a no-op. */
  private[router] var afterStopBeforeRemove: () => Unit = () => ()

  /** Test seam: runs inside [[run]]'s critical section, between the
    * terminated-record reset and the replacement walk — the window
    * where a fresh crash writes a record the reset can no longer see.
    * Production value is a no-op. */
  private[router] var afterResetBeforeWalk: () => Unit = () => ()

  /** Test seam for [[close]]: how one query is stopped. Production value
    * is `StreamingQuery.stop()`; specs substitute a thrower to drive the
    * fatal-vs-NonFatal paths, which real queries can't be made to take
    * on demand. */
  private[router] var closeStopSeam: StreamingQuery => Unit = _.stop()

  /** Pluggable logger, parity with RouterConfig.Logger
    * (message/router.go:96-99). Volatile: [[close]] may run on the
    * shutdown-hook thread with no other happens-before edge to a
    * withLogger call (the JdkHttpServerDefaults.logger rule). */
  @volatile private[graft] var log: graft.core.LoggerAdapter =
    new graft.core.Slf4jLogger("graft.router")
  def withLogger(l: graft.core.LoggerAdapter): this.type = { log = l; this }
  private val ckptBase =
    checkpointRoot.getOrElse(Files.createTempDirectory("graft-router-").toString)

  /** Writer-epoch lineage token: epochIds restart at 0 whenever the
    * CHECKPOINT restarts, so the epoch write id must be scoped to the
    * checkpoint lineage — otherwise a router relaunched with a fresh
    * (default temp) checkpoint against a PERSISTENT transport root
    * overwrites run 1's committed `epoch_<g>-<h>-0` dirs with run 2's
    * batch 0 (silent data loss), and a same-JVM second router sharing
    * one MemoryPubSub has its batch 0 dedup-DROPPED as a replay of the
    * first router's. Derived from the checkpoint path: the SAME
    * persistent checkpoint resumes the same lineage (retries stay
    * idempotent — that's the exactly-once contract), while a new
    * checkpoint gets a new lineage and appends instead of clobbering. */
  private val lineage = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(ckptBase.getBytes("UTF-8"))
    md.take(4).map(b => f"$b%02x").mkString
  }

  /** Router-level middleware; first added = outermost
    * (message/router.go:184,651-659). Registration takes the SHORT
    * [[regLock]] (run() snapshots these collections under it): the
    * reference documents registration as concurrent-safe with Run
    * (message/router.go:272 "may be called while the router is
    * running"), and an unlocked `++=` racing run()'s walk would be a
    * ConcurrentModificationException or a silently skipped handler —
    * while taking the CONTROL lock here would block a trivial add
    * behind a wedged q.stop(). */
  def addMiddleware(mw: Middleware*): this.type =
    regLock.synchronized { routerMiddlewares ++= mw; this }

  /** Startup hooks, parity with RouterPlugin (message/router.go:61-62,
    * :395-400 — plugins run when Run starts). */
  def addPlugin(p: (Router => Unit)*): this.type =
    regLock.synchronized { plugins ++= p; this }

  /** Router-level dataset stages applied before every handler. */
  def addStage(st: Stages.Stage*): this.type =
    regLock.synchronized { routerStages ++= st; this }

  /** Parity with AddHandler (message/router.go:272-330): consume
    * `subscribeTopic`, run `handler` through the middleware onion,
    * publish results to `publishTopic` (or per-row override). */
  def addHandler(name: String, subscribeTopic: String, subscriber: Subscriber,
      publishTopic: String, publisher: Publisher, handler: Handler,
      middlewares: Seq[Middleware] = Nil, stages: Seq[Stages.Stage] = Nil,
      options: HandlerOptions = HandlerOptions(),
      breaker: Option[CircuitBreaker] = None): this.type =
    regLock.synchronized {
      require(!handlers.contains(name), s"handler $name already added (router.go:278)")
      handlers(name) = HandlerDef(name, subscribeTopic, subscriber,
        Some(publishTopic), Some(publisher), handler, middlewares.toSeq,
        stages.toSeq, options, breaker)
      this
    }

  /** Parity with AddConsumerHandler / NoPublishHandlerFunc
    * (message/router.go:34-35,342): terminal consumer, no publish. */
  def addConsumerHandler(name: String, subscribeTopic: String,
      subscriber: Subscriber, consume: Message => Unit,
      middlewares: Seq[Middleware] = Nil): this.type = regLock.synchronized {
    require(!handlers.contains(name), s"handler $name already added")
    // the consumed message passes through to the sink as an ack
    // carrier — consumerSink publishes ONLY TopicOverride rows, so
    // nothing leaves the process; without it, a consumer handler on an
    // ackable transport (SQL) would never advance the durable offset
    // and a fresh instance would redeliver everything ever consumed
    val h: Handler = m => { consume(m); Seq(m) }
    handlers(name) = HandlerDef(name, subscribeTopic, subscriber, None, None,
      h, middlewares.toSeq, Nil, HandlerOptions(), None)
    this
  }

  def handlerNames: Seq[String] =
    regLock.synchronized { handlers.keys.toSeq }

  /** The streaming Dataset for one handler, pre-sink — exposed so tests
    * and `.explain` audits can inspect the plan the router builds. */
  def plan(name: String): Dataset[Message] = {
    val (h, st, mw) = regLock.synchronized {
      (handlers(name), routerStages.toList, routerMiddlewares.toList)
    }
    buildPlan(h, st, mw)
  }

  private def buildPlan(h: HandlerDef,
      routerStagesSnap: List[Stages.Stage],
      routerMwSnap: List[Middleware]): Dataset[Message] = {
    import spark.implicits._
    // ingress sanitization — AT the subscribe boundary, BEFORE stages:
    // `_graft_` keys are ENGINE state, but the transports are open
    // surfaces (SQL tables, HTTP endpoints, Kafka topics accept foreign
    // writers) — an inbound `_graft_topic` would otherwise ride the
    // pass-through ack carrier into the sink and forward the message to
    // an attacker-chosen topic. Everything INSIDE the plan (stages,
    // middleware, handlers) is trusted engine-side code whose stamps
    // must survive — only what crosses the transport boundary is
    // suspect. The ack-offset stamp survives ONLY from a transport
    // that actually acks (it stamps its own value post-sanitize); on
    // every other transport a forged `_graft_ack_offset` is just as
    // foreign as a forged routing key and is dropped — were it kept,
    // a transport later gaining ack support without poll-side
    // sanitization would let a forged stamp win the ack max and
    // silently skip undelivered rows. Pure column expression: stays
    // in codegen, no object hop before the stages.
    val raw = h.subscriber.subscribe(h.subscribeTopic, h.options.maxPerTrigger)
    val keepKeys =
      if (h.subscriber.isInstanceOf[graft.sources.AckableSubscriber])
        Seq(Ctx.AckOffset)
      else Seq.empty
    // coalesce AFTER the strip: Message.schema marks metadata nullable
    // and an open-surface transport can deliver a row with metadata =
    // NULL (a foreign parquet file in a FilePubSub topic dir, the
    // documented production pattern) — map_filter passes the null
    // through, and the ctx injection below would then NPE inside the
    // flatMap, OUTSIDE the middleware onion (recoverer can't catch
    // it): the query dies and restarts into the same row forever.
    // KafkaPubSub coalesces per-transport; the router guards centrally
    // so every transport is covered.
    val src = raw
      .withColumn("metadata", coalesce(
        Ctx.stripInternal(col("metadata"), keepKeys: _*),
        typedLit(Map.empty[String, String])))
      .as[Message]
    val staged = (routerStagesSnap ++ h.stages).foldLeft(src)((d, st) => st(d))
    // ctx injection (router.go:766-788) + middleware onion, one flatMap.
    // Locals only in the closure — the Router itself must not serialize.
    val hName = h.name
    val subTopic = h.subscribeTopic
    val pubTopic = h.publishTopic.getOrElse("")
    val composed = Middlewares.chain(routerMwSnap ++ h.middlewares)(h.handler)
    staged.flatMap { m =>
      val outs = composed(m
        .withMeta(Ctx.HandlerName, hName)
        .withMeta(Ctx.SubscribeTopic, subTopic)
        .withMeta(Ctx.PublishTopic, pubTopic))
      // consumer-ack propagation: a handler constructing brand-new
      // messages drops the source's ack stamp, and the sink could then
      // never advance the transport's durable offset — re-stamp every
      // output with its input's offset (stripped on publish like all
      // _graft_ keys)
      m.get(Ctx.AckOffset) match {
        case "" => outs
        case off => outs.map(o =>
          if (o.get(Ctx.AckOffset).nonEmpty) o
          else o.withMeta(Ctx.AckOffset, off))
      }
    }
  }

  /** After a successful sink commit, advance an [[graft.sources
    * .AckableSubscriber]]'s durable offset to the batch's max stamped
    * source offset (the micro-batch form of watermill's per-message
    * Ack). No stamp in the batch (all rows filtered by the handler, or
    * a non-stamping transport) → no ack: those source rows redeliver
    * to a fresh instance and re-filter — at-least-once, never loss. */
  private def ackBatch(h: HandlerDef, batch: DataFrame): Unit =
    h.subscriber match {
      case a: graft.sources.AckableSubscriber =>
        // guarded cast: under ANSI mode a malformed stamp (a handler
        // copying a foreign message's garbage into its outputs) would
        // THROW, failing the batch forever — a permanent wedge.
        // try_cast degrades ANY bad stamp — non-numeric, overflow, a
        // 19-digit value a length-regex would misjudge — to null =
        // no-ack (redelivery), the at-least-once direction.
        val row = batch.agg(max(expr(
          s"try_cast(element_at(metadata, '${Ctx.AckOffset}') as bigint)")))
          .collect()(0)
        if (!row.isNullAt(0)) a.ack(h.subscribeTopic, row.getLong(0))
      case _ => ()
    }

  /** Idempotency handle for one (group, handler, lineage, epoch)
    * write. The group segment is LENGTH-PREFIXED so names containing
    * '-' cannot alias across (group, handler) pairs — without it,
    * (group "a-b", handler "c") and (group "a", handler "b-c") would
    * share writerIds and overwrite each other's committed epochs. */
  private def writerId(h: HandlerDef, epochId: Long): String = {
    val g = group.getOrElse("g")
    s"${g.length}.$g-${h.name}-$lineage-$epochId"
  }

  /** Publish one micro-batch, honoring per-row topic overrides and
    * stripping `_graft_` ctx keys. Publishes through the idempotent
    * epoch path — (handler, epochId, topic) identifies the write, so a
    * batch retried after a sink failure cannot duplicate rows on
    * transports with an idempotency handle. */
  private def sinkBatch(h: HandlerDef, batch: DataFrame, epochId: Long): Unit = {
    val pub = h.publisher.get
    val default = h.publishTopic.get
    val writerId = this.writerId(h, epochId)
    // an ackable source needs a second pass over the batch (the ack
    // max) — persist so the handler's flatMap never re-runs its side
    // effects for it
    val needAck = h.subscriber.isInstanceOf[graft.sources.AckableSubscriber]
    val src = if (needAck) batch.persist() else batch
    try {
      val routed = src.withColumn("_topic",
        coalesce(element_at(col("metadata"), lit(Ctx.TopicOverride)), lit(default)))
      val cleaned = routed.withColumn("metadata",
        Ctx.stripInternal(col("metadata")))
      pub.publishRoutedEpoch(cleaned, "_topic", writerId)
      if (needAck) ackBatch(h, src)
    } finally { if (needAck) { src.unpersist(); () } }
  }

  /** Sink for consumer (no-publish) handlers. The handler itself emits
    * nothing, so the batch holds ONLY rows the middleware chain
    * produced — poison-queue routing, delay re-publish — each carrying
    * a TopicOverride. Discarding them (the old `foreach(_ => ())`)
    * silently acked-and-lost every dead-lettered message on consumer
    * handlers, the opposite of the middleware's contract: route them
    * through the subscribing transport when it can publish, and fail
    * LOUDLY (batch retries, nothing acked) when it can't. */
  private def consumerSink(h: HandlerDef, batch: DataFrame, epochId: Long): Unit = {
    val persisted = batch.persist()
    try {
      // full materialization FIRST: consume() side effects run exactly
      // once per row here; later filtered actions read the cache (a
      // filtered first action could short-circuit and skip rows)
      persisted.foreach(_ => ())
      val routed = persisted.filter(
        element_at(col("metadata"), lit(Ctx.TopicOverride)).isNotNull)
      if (routed.limit(1).count() > 0) h.subscriber match {
        case pub: Publisher =>
          pub.publishRoutedEpoch(routed
            .withColumn("_topic",
              element_at(col("metadata"), lit(Ctx.TopicOverride)))
            .withColumn("metadata", Ctx.stripInternal(col("metadata"))),
            "_topic", writerId(h, epochId))
        case _ =>
          throw new IllegalStateException(
            s"consumer handler '${h.name}': middleware routed messages " +
              "(poison queue / delay) but the subscribing transport " +
              "cannot publish — they would be silently lost")
      }
      ackBatch(h, persisted)
    } finally { persisted.unpersist(); () }
  }

  /** Plugins run once per Router, not once per run() call: run() is
    * re-callable (the documented [[stopHandler]] restart path), and a
    * plugin that mutates router state — addMiddleware is the common
    * case — would otherwise stack its effect onto every RESTARTED
    * handler's rebuilt chain while untouched siblings keep the single
    * application. The reference's Run executes plugins exactly once
    * too (message/router.go:395-400: a closed router is not re-run). */
  private var pluginsRan = 0

  /** Start one StreamingQuery per handler, parity with Run + RunHandlers
    * (message/router.go:386-493). Returns once all queries are started
    * (the reference's `Running()` gate); callers await with
    * [[awaitAnyTermination]] or drive with [[processAllAvailable]].
    * Re-callable: handlers already running are untouched; stopped AND
    * CRASHED ones restart from their checkpoints (a query that
    * terminated with an error is replaced, not silently kept as a dead
    * registry entry — the crash never committed its batch, so the
    * restart redelivers it: at-least-once, the documented contract).
    * Replacing ANY terminated query (stopped or crashed) clears the
    * session's terminated-query record FIRST
    * (`spark.streams.resetTerminated()` before the replacement walk —
    * a crash landing mid-run() keeps its record or gets restarted,
    * never silently wiped), so the supervision pattern
    * `run(); awaitAnyTermination()` waits for the NEXT termination
    * instead of rethrowing a stale, already-recovered crash (or
    * hot-spinning on a stale clean-stop record) forever. The reset is
    * SESSION-global: do not share one SparkSession across
    * independently awaitAnyTermination-supervised routers — poll
    * `running(name).exception` there, or give each router its own
    * session. */
  def run(): this.type = controlLock.synchronized {
    // each plugin runs exactly once per router — including plugins
    // added AFTER a previous run() (they run on the next one) and
    // plugins added BY a running plugin (indexed walk, not a snapshot:
    // a dropped-collection iteration would mark them ran unexecuted).
    // The buffer access is under regLock per step — the plugin itself
    // runs OUTSIDE it (a plugin calling addPlugin re-enters regLock
    // reentrantly either way, but holding it across arbitrary plugin
    // code would serialize registration behind it for no reason)
    var morePlugins = true
    while (morePlugins) {
      val next = regLock.synchronized {
        if (pluginsRan < plugins.length) {
          val p = plugins(pluginsRan); pluginsRan += 1; Some(p)
        } else None
      }
      next match {
        case Some(p) => p(this)
        case None => morePlugins = false
      }
    }
    // A query this run() is about to REPLACE leaves a stale record in
    // spark.streams' terminated-query list: a supervisor's
    // awaitAnyTermination() would rethrow an already-recovered crash
    // forever, and a cleanly-stopped-then-restarted handler's record
    // would make every await return immediately (a hot supervision
    // loop). Clear the record BEFORE the replacement walk — ordering
    // matters: a query that crashes AFTER this reset either (a) is
    // seen inactive by the walk below and gets replaced/restarted —
    // and because it was NOT in the dead-at-reset snapshot, its
    // removal marks stoppedSinceRun: its record was written AFTER
    // this reset and only the NEXT run()'s reset can clear it
    // (without the mark, no later run() would: the supervisor
    // rethrows the already-recovered crash at most ONCE, never
    // forever) — or (b) terminates after its walk check and KEEPS its
    // record for the supervisor. Resetting after the walk instead
    // would silently wipe exactly those mid-run() crashes (they'd be
    // dead, recordless, and never restarted). A query already dead AT
    // the reset does NOT re-mark the flag — this reset just cleared
    // its record, and an over-set flag would make the next run()
    // spuriously wipe the session record (which on a shared session
    // could swallow an UNRELATED query's crash).
    // resetTerminated is SESSION-global: another Router sharing this
    // SparkSession loses its terminated-query records too, and ITS
    // supervisor never agreed to this run()'s "wait for the NEXT
    // termination" contract. Sharing one session across independently
    // supervised routers therefore requires polling
    // running(name).exception instead of awaitAnyTermination — or one
    // session per router (the scaladoc states both).
    // Two stale-record sources: entries still registered but dead
    // (crashes — the walk below replaces them), and queries this
    // router ALREADY deregistered via stopHandler/close (their stop
    // records are equally stale once run() restarts the handler —
    // tracked by the flag, since the registry no longer knows them).
    // A crash landing in the microseconds between this snapshot and
    // the reset call is cleared by the reset yet NOT in the snapshot,
    // so the walk still marks it stale — one spurious reset on the
    // next run(). Unobservable from outside (whether a record landed
    // before or after resetTerminated's internal clear can't be
    // queried), so the code chooses the benign direction: over-reset
    // (harmless on the documented one-session-per-supervised-router
    // deployment) over under-mark (the forever-rethrow hot loop).
    val deadAtReset = queries.iterator
      .collect { case (n, q) if !q.isActive => n }.toSet
    if (stoppedSinceRun || deadAtReset.nonEmpty) {
      spark.streams.resetTerminated()
      stoppedSinceRun = false
    }
    afterResetBeforeWalk()
    // ONE frozen registration state for the whole walk: every handler
    // this run() starts sees the same stages/middlewares — a
    // concurrent addMiddleware applies to ALL of the next run()'s
    // handlers, never to a suffix of this one
    val (hsSnap, stSnap, mwSnap) = regLock.synchronized {
      (handlers.values.toList, routerStages.toList,
        routerMiddlewares.toList)
    }
    hsSnap.foreach { h =>
      queries.get(h.name).foreach { q =>
        if (!q.isActive)
          deregister(h.name, q, markStale = !deadAtReset.contains(h.name))
      }
      queries.getOrElseUpdate(h.name, {
        // observe() rides the normal pass (no extra job) and surfaces
        // the handler's output-row count in every progress event —
        // foreachBatch sinks report numOutputRows = -1, so this is
        // what feeds the publish counter (GraftMetrics/MetricsHttp).
        val out = buildPlan(h, stSnap, mwSnap).toDF()
          .observe("graft_sink", count(lit(1)).as("rows"))
        val writer = out.writeStream
          // length-prefixed group, same injective scheme as writerId:
          // names containing '-' must not alias query names either
          .queryName(group.fold(s"graft-${h.name}")(g =>
            s"graft-${g.length}.$g-${h.name}"))
          // group in the path, not just the queryName: two groups
          // sharing one checkpointRoot must have independent offset
          // lineages or the second group resumes from the first's
          // commits and skips everything it already consumed. Group
          // and handler are SEPARATE path segments — a joined
          // "$g-$name" aliases (group "a-b", handler "c") with
          // (group "a", handler "b-c"), silently sharing one offset
          // log between two different handlers
          .option("checkpointLocation",
            s"$ckptBase/${group.fold(s"nogroup/${h.name}")(g => s"grp_$g/${h.name}")}")
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            val body = () => {
              if (h.publisher.isDefined) sinkBatch(h, batch, epochId)
              else consumerSink(h, batch, epochId)
            }
            h.breaker match {
              case Some(cb) => cb.protect(body()); ()
              case None => body()
            }
          }
        h.options.trigger.foreach(writer.trigger)
        writer.start()
      })
    }
    this
  }

  def running: Map[String, StreamingQuery] = queries.toMap

  /** Stop ONE handler's streaming query while its siblings keep
    * consuming, parity with `Handler.Stop()` (reference:
    * message/router.go:702-708). Blocks until the query's execution
    * thread has terminated (`StreamingQuery.stop` semantics), then
    * deregisters it — the handler definition stays, so a later
    * [[run]] restarts exactly this handler from its checkpoint
    * (offsets intact: stop is between micro-batches, the ack unit).
    * Unknown names fail fast; a handler that is registered but not
    * currently running is a no-op. */
  def stopHandler(name: String): Unit = {
    regLock.synchronized {
      require(handlers.contains(name), s"unknown handler $name")
    }
    controlLock.synchronized {
      queries.get(name).foreach { q =>
        q.stop()
        afterStopBeforeRemove()
        deregister(name, q)
      }
    }
  }

  /** Block until handler `name` has stopped, parity with
    * `Handler.Stopped()` (message/router.go:716-723). Returns true
    * when the handler is not running (stopped, never started, or
    * TERMINATED WITH AN ERROR — "is it down" must answer yes for a
    * crashed handler, which is exactly when an operator asks; the
    * error itself still surfaces through `running(name).exception` or
    * [[awaitAnyTermination]]); false if it is still running after
    * `timeoutMs`. Usable from a thread other than the one calling
    * [[stopHandler]]: it awaits the underlying query's termination,
    * not the registry entry. */
  def awaitHandlerStopped(name: String, timeoutMs: Long = 30000): Boolean = {
    // the handlers lookup takes only the SHORT registration lock —
    // never controlLock, whose holder may be mid-q.stop(): the
    // documented timeoutMs bound must hold even while the control
    // plane is wedged. queries is a TrieMap (lock-free read), and the
    // await itself blocks outside every lock.
    regLock.synchronized {
      require(handlers.contains(name), s"unknown handler $name")
    }
    queries.get(name) match {
      case None => true
      case Some(q) =>
        try q.awaitTermination(timeoutMs)
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException => true
        }
    }
  }

  /** Test/drain helper: block until every handler has consumed all
    * currently-available input (the `BlockPublishUntilSubscriberAck`
    * analogue, pubsub/gochannel/pubsub.go:132-150). */
  def processAllAvailable(): Unit = queries.values.foreach(_.processAllAvailable())

  def awaitAnyTermination(): Unit = spark.streams.awaitAnyTermination()

  /** Parity with Close (message/router.go:563-609): stop every query.
    * Best-effort — every query gets a stop attempt even if an earlier
    * one fails. A NonFatal stop failure is logged loud and suppressed
    * (close must still reach its siblings). A FATAL (OOM, …) is NOT
    * swallowed: it is rethrown after the remaining queries have had
    * their stop attempt — a close() that reports success over a dying
    * JVM is the same lie the HTTP edge's catch was narrowed for.
    * Deregistration is PER-QUERY and conditional on the stop actually
    * landing: an entry whose stop failed while the query is STILL
    * ACTIVE (e.g. `spark.sql.streaming.stopTimeout` elapsing throws
    * TimeoutException with the execution thread alive) stays
    * registered, so it remains visible to [[running]] and reachable by
    * a close() retry — clearing it would strand a live StreamingQuery
    * outside the registry, the exact defect the control lock exists to
    * prevent. */
  def close(): Unit = controlLock.synchronized {
    var fatal: Throwable = null
    queries.foreach { case (name, q) =>
      // every removal goes through the one deregister site: removal ⇒
      // a later run() restarts the handler fresh, so its termination
      // record is stale then and must mark the flag (the failure-path
      // copies once missed it)
      try { closeStopSeam(q); deregister(name, q) }
      catch {
        case e if scala.util.control.NonFatal(e) =>
          if (q.isActive)
            log.warn(s"close: stop of handler '$name' failed and the " +
              s"query is STILL ACTIVE — kept registered for a retry: $e")
          else {
            log.warn(s"close: suppressed failure stopping handler " +
              s"'$name' (query already terminated): $e")
            deregister(name, q)
          }
        case e: Throwable =>
          log.error(s"close: FATAL stopping handler '$name' — " +
            "still attempting the remaining queries, then rethrowing", e)
          if (!q.isActive) deregister(name, q)
          if (fatal == null) fatal = e else fatal.addSuppressed(e)
      }
    }
    if (fatal != null) throw fatal
  }
}

object Router {
  /** SignalsHandler plugin, parity with
    * message/router/plugin/signals.go:13-27: SIGINT/SIGTERM → graceful
    * close. The JVM signal surface is the shutdown hook. */
  val signalsHandler: Router => Unit = { r =>
    val t = new Thread(() => r.close(), "graft-router-shutdown")
    java.lang.Runtime.getRuntime.addShutdownHook(t)
  }
}
