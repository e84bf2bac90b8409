package graft.delay

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Message
import graft.router.{Ctx, Stages}
import graft.sources.{Publisher, Subscriber}

/** Delayed-message support, parity with `components/delay`
  * (reference: components/delay/delay.go:16-68, publisher.go:14-83,
  * docs/content/advanced/delayed-messages.md:9-41).
  *
  * A delay is metadata (`delayed_until` RFC3339 + `delayed_for`), and
  * delayed consumption is an event-time filter on the consumer side —
  * the reference's SQL-transport "broker hides rows until due" maps to
  * filtering `delayed_until <= now` over a replayable staging topic.
  */
object Delay {

  final case class Delay(untilMs: Long, forDesc: String)

  /** delay.For (delay.go:24-30) */
  def forMs(ms: Long, nowMs: Long = System.currentTimeMillis()): Delay =
    Delay(nowMs + ms, s"${ms}ms")

  /** delay.Until (delay.go:32-39) */
  def until(at: Instant): Delay = Delay(at.toEpochMilli, s"until ${at.toString}")

  /** delay.Message (delay.go:56-68): stamp the delay metadata. */
  def message(m: Message, d: Delay): Message =
    m.withMeta(Ctx.DelayedUntil, Instant.ofEpochMilli(d.untilMs).toString)
      .withMeta(Ctx.DelayedFor, d.forDesc)

  /** The due instant of a `delayed_until` stamp, in epoch ms; None for
    * an absent or MALFORMED stamp, which is deliverable now. The one
    * stamp rule of the JVM delivery paths ([[DelayedDelivery.releaseWhenDue]],
    * `SqlPubSub`); [[isReady]] is its column form. NonFatal, not just
    * DateTimeParseException: a valid-ISO stamp at year +999999999
    * parses fine and then throws ArithmeticException in toEpochMilli. */
  def dueMs(stamp: String): Option[Long] =
    try Some(Instant.parse(stamp).toEpochMilli)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Column predicate: true when the row is deliverable as of `asOf`.
    * Rows without delay metadata are always ready. A MALFORMED stamp is
    * also ready: `try_to_timestamp`, not `to_timestamp` — under ANSI
    * mode the plain cast THROWS, so one corrupt metadata value would
    * kill every retry of the micro-batch at the filter, before any
    * poison-queue middleware could route it. Fail-open to visibility:
    * the row flows now and is observable downstream; failing closed
    * would hide it forever (silent loss). The pattern accepts what
    * [[dueMs]]'s `Instant.parse` accepts: a zone-less or date-only
    * stamp is malformed on every path. */
  def isReady(asOf: Column): Column = {
    val until = element_at(col("metadata"), lit(Ctx.DelayedUntil))
    val parsed = try_to_timestamp(until, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XXX"))
    until.isNull || parsed.isNull || parsed <= asOf
  }
}

/** delay.NewPublisher (publisher.go:14-33,40-83): wraps a publisher so
  * every published message gets delay metadata stamped. The default is
  * a GENERATOR invoked at publish time (parity with
  * `DefaultDelayGenerator`, publisher.go:66-74) — an absolute Delay
  * captured at construction would decay: a "60 s" default on a
  * publisher created ten minutes ago would already be in the past.
  * `allowNoDelay` parity: without a default and without pre-stamped
  * metadata, publishing errors unless allowed. */
final class DelayingPublisher(inner: Publisher,
    defaultDelay: Option[() => Delay.Delay],
    allowNoDelay: Boolean = false) extends Publisher {

  private def stamp(m: Message): Message =
    if (m.get(Ctx.DelayedUntil).nonEmpty) m
    else defaultDelay match {
      case Some(gen) => Delay.message(m, gen())
      case None if allowNoDelay => m
      case None => throw new IllegalArgumentException(
        "message has no delay and no default delay configured (publisher.go:59-66)")
    }

  override def publish(topic: String, msgs: Seq[Message]): Unit =
    inner.publish(topic, msgs.map(stamp))

  override def publishBatch(topic: String, df: DataFrame): Unit =
    inner.publishBatch(topic, stampFrame(df))

  // forward the epoch forms too — the trait defaults would drop the
  // writerId (publishBatch) and a replayed epoch would land twice
  override def publishEpoch(topic: String, df: DataFrame, writerId: String): Unit =
    inner.publishEpoch(topic, stampFrame(df), writerId)

  override def publishRoutedEpoch(df: DataFrame, topicCol: String,
      writerId: String): Unit =
    inner.publishRoutedEpoch(stampFrame(df), topicCol, writerId)

  /** The frame form of [[stamp]]; other columns (a routing column)
    * pass through. Unstamped = missing OR empty value, matching the
    * per-message path exactly (Message.get returns "" for a missing
    * key, so `get(..).nonEmpty` treats "" as unstamped — a bare isNull
    * here would deliver an empty-stamped row immediately on one path
    * and delay it on the other). */
  private def stampFrame(df: DataFrame): DataFrame = {
    val until = element_at(col("metadata"), lit(Ctx.DelayedUntil))
    val unstamped = until.isNull || until === ""
    defaultDelay match {
      case Some(gen) =>
        val d = gen() // generated per publish call, one stamp per batch
        // coalesce: the envelope schema allows a NULL metadata map, and
        // map_concat(null, stamp) is NULL — the row would publish with
        // no delay stamp at all, silently skipping the default delay
        df.withColumn("metadata",
          when(unstamped, map_concat(
            coalesce(col("metadata"),
              map().cast("map<string,string>")),
            map(lit(Ctx.DelayedUntil), lit(Instant.ofEpochMilli(d.untilMs).toString),
              lit(Ctx.DelayedFor), lit(d.forDesc))))
            .otherwise(col("metadata")))
      case None if allowNoDelay => df
      case None =>
        // parity with the per-message path: PRE-STAMPED rows are fine
        // without a default — only an unstamped row is an error, and
        // raise_error reports it at write time without a driver-side
        // pre-scan of the batch
        df.withColumn("metadata",
          when(unstamped, raise_error(lit(
            "message has no delay and no default delay configured (publisher.go:59-66)"))
            .cast("map<string,string>"))
            .otherwise(col("metadata")))
    }
  }
  override def close(): Unit = inner.close()
}

/** Delayed consumption (delayed-messages.md:9-41). Two forms:
  *  - [[stage]]: streaming filter for router handlers — rows not yet
  *    due are dropped from THIS pass; pair with a replayable staging
  *    topic and [[drain]] for redelivery.
  *  - [[drain]]: the scheduled micro-batch form — re-scan the staging
  *    topic, forward everything now due and not yet forwarded. Keyed
  *    anti-join against the target topic, no driver state.
  */
object DelayedDelivery {

  def ready(df: DataFrame, asOf: Column = current_timestamp()): DataFrame =
    df.filter(Delay.isReady(asOf))

  def stage(asOf: Column = current_timestamp()): Stages.Stage = ds =>
    ds.filter(Delay.isReady(asOf)) // typed filter keeps Dataset[Message]

  /** One drain pass: publish due-and-not-yet-forwarded staging rows to
    * `target`. Call per schedule tick (or from a trigger). */
  def drain(sub: Subscriber, pub: Publisher, stagingTopic: String,
      target: String, asOf: Column = current_timestamp()): Unit = {
    // bootstrap: if drain itself is the only writer of `target`, the
    // very first tick would die reading the not-yet-existing topic
    // (PATH_NOT_FOUND on path-backed transports) — and every later
    // tick with it. Initialize when the transport supports it.
    sub match {
      case si: graft.sources.SubscribeInitializer => si.subscribeInitialize(target)
      case _ => ()
    }
    val staged = ready(sub.subscribeBatch(stagingTopic), asOf)
    val already = sub.subscribeBatch(target).select(col("uuid"))
    pub.publishBatch(target, staged.join(already, Seq("uuid"), "left_anti"))
  }

  /** True streaming delayed delivery — the broker-side "hide until
    * due" of the reference's SQL transport (delayed-messages.md:9-41)
    * as a stateful operator: undelayed rows pass straight through; a
    * delayed row is buffered in keyed state with an EVENT-TIME timer at
    * its `delayed_until`, and is released when the watermark passes it.
    * State is exactly the not-yet-due backlog — keyed, bounded,
    * checkpointed (SURVEY §7.3's flatMapGroupsWithState row). */
  def releaseWhenDue(ds: org.apache.spark.sql.Dataset[graft.core.Message],
      watermarkDelay: String = "0 seconds"): org.apache.spark.sql.Dataset[graft.core.Message] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.core.Message
    implicit val me = E.product[Message]
    implicit val se = E.STRING
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey((m: Message) => m.uuid)
      .flatMapGroupsWithState[Message, Message](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, msgs: Iterator[Message], state: GroupState[Message]) =>
          if (state.hasTimedOut) {
            val due = state.get
            state.remove()
            Iterator.single(due)
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Message]
            // malformed stamps (foreign writers can stamp anything)
            // pass through like undelayed rows — a throwing parse here
            // would kill the stateful query on one corrupt row
            def dueMsOf(m: Message): Option[Long] = Delay.dueMs(m.get(Ctx.DelayedUntil))
            msgs.foreach { m =>
              dueMsOf(m) match {
                case None => out += m // undelayed or malformed: pass through
                case Some(ms) if ms <= state.getCurrentWatermarkMs() =>
                  out += m // already due
                case Some(_) => state.update(m) // timer armed below
              }
            }
            // re-arm on EVERY invocation that leaves a row buffered:
            // the GroupState contract RESETS a key's timeout each time
            // the function is called for it ("the user has to set the
            // timeout duration every time the function is called"), so
            // a later same-uuid arrival — one undelayed replay
            // duplicate is enough — would otherwise silently cancel
            // the buffered row's timer and strand it in state forever.
            // The timer re-derives from the buffered row's own stamp;
            // a stamp due by now flushes here instead (arming a timer
            // at or below the watermark throws).
            if (state.exists) {
              val buffered = state.get
              dueMsOf(buffered) match {
                case Some(ms) if ms > state.getCurrentWatermarkMs() =>
                  state.setTimeoutTimestamp(ms)
                case _ => // due, or stamp unreadable: fail-open like isReady
                  out += buffered
                  state.remove()
              }
            }
            out.iterator
          }
      }
  }
}
