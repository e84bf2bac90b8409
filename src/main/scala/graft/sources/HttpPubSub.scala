package graft.sources

import java.net.InetSocketAddress
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Ids, Message}

/** HTTP transport, the watermill-http analogue (declared in the
  * reference's transport matrix, README.md:104-117; the HTTP repo's
  * model is: Subscriber = an HTTP server turning each POST into a
  * message, Publisher = POSTing messages to a per-topic URL).
  *
  * Wire contract (both directions):
  *   POST <base>/<topic>  body = payload bytes
  *     X-Graft-Uuid: <uuid>           (optional; generated if absent)
  *     X-Graft-Meta-<key>: <value>    (one header per metadata entry)
  *   response 200 = acked (enqueued); non-2xx = nack, sender retries.
  *
  * Delivery is at-least-once: HTTP has no idempotency handle, so
  * both epoch forms fall back to plain appends (`publishRoutedEpoch`
  * as one `publishEpoch` per destination) — receivers dedupe by
  * uuid (pair with `StreamingDedup.stage` exactly as the reference
  * pairs webhook ingestion with the Deduplicator middleware).
  */
object HttpWire {
  val UuidHeader = "X-Graft-Uuid"
  val MetaPrefix = "X-Graft-Meta-"

  /** Carrier for metadata entries that cannot ride as one-per-header
    * (a key with non-token characters — legal in Kafka headers — or a
    * value with CR/LF): URL-encoded JSON map in ONE header. Without
    * it, HttpRequest.Builder throws IllegalArgumentException on the
    * first such entry — on EVERY retry — and the batch wedges
    * permanently instead of the retryable-nack path this transport
    * documents. Entries that are header-safe still ride verbatim
    * (wire-compatible with plain HTTP producers). */
  val EncHeader = "X-Graft-Meta-Enc"

  private val TokenKey = "^[0-9A-Za-z!#$%&'*+.^_`|~-]+$".r
  /** Header-safe = token key + a value free of CTLs (HTAB allowed) AND
    * of anything above 0xFF: JDK HttpRequest.Builder rejects header
    * values with any char > 255, so a CJK/emoji metadata value routed
    * down the plain-header path would throw IllegalArgumentException
    * on every retry — exactly the permanent wedge [[EncHeader]] was
    * introduced to close. Non-Latin-1 values ride the encoded carrier. */
  private[sources] def headerSafe(k: String, v: String): Boolean =
    TokenKey.matches(k) &&
      v.forall(c => (c >= 0x20 && c != 0x7f && c <= 0xff) || c == '\t')

  private[sources] def encodeUnsafe(entries: Map[String, String]): String =
    java.net.URLEncoder.encode(
      new String(graft.cqrs.JsonCodec.write(entries), "UTF-8"), "UTF-8")

  private[sources] def decodeUnsafe(h: String): Map[String, String] =
    // validated read ([[graft.cqrs.JsonCodec.readStringMap]]): a
    // hand-crafted carrier like {"a":1} must throw HERE, into the
    // subscriber's drop-the-carrier catch — an erasure-smuggled
    // non-String value would otherwise fail much later at Row-encode
    // time inside publish, 500ing every retry (a permanent wedge)
    graft.cqrs.JsonCodec.readStringMap(
      java.net.URLDecoder.decode(h, "UTF-8").getBytes("UTF-8"))
}

object HttpSubscriber {
  /** Hard per-request wall-clock bound for the JDK server (without it
    * a hostile client that dribbles its body forever holds its handler
    * thread forever) and no-drain-on-reject (a 503'd/413'd unread body
    * would otherwise be drained up to 64 KB at exchange close, holding
    * the spare pool thread until the timer fires; losing keep-alive
    * reuse on a rejected request costs nothing — the 200 path consumed
    * its body fully and never drains). The JDK latches both properties
    * once, at HttpServer class init, so the defaulting lives in
    * [[graft.core.JdkHttpServerDefaults]] and is called from EVERY
    * graft creation site (MetricsHttp too — a metrics server starting
    * first used to leave these silently inert). Operators with
    * legitimately slower producers set the properties explicitly. */
  private[sources] def ensureMaxReqTime: Unit =
    graft.core.JdkHttpServerDefaults.ensure()

  /** Default ingest-concurrency gate: enough permits that a handful
    * of slow producers never block a fast one, capped so the
    * worst-case buffered-body memory (permits × maxBodyBytes) and the
    * long-held thread count stay hard-bounded on any box. */
  private[sources] def defaultPermits: Int =
    math.min(64, math.max(8, 2 * Runtime.getRuntime.availableProcessors()))
}

/** Server half: POSTs to `/<topic>` enqueue into an in-process broker
  * (same MemoryStream mechanics as [[MemoryPubSub]]); `subscribe`
  * exposes the per-topic stream. One server, many topics.
  *
  * Ingest concurrency is HARD-BOUNDED: at most `maxConcurrentBodies`
  * requests buffer bodies at once (worst-case driver heap held by
  * this edge = `maxConcurrentBodies × maxBodyBytes`), served from a
  * fixed pool of `maxConcurrentBodies + 4` daemon threads. Excess
  * requests answer **503 before any body byte is read** — the
  * retryable nack path ([[HttpPublisher]] throws on non-2xx, the
  * batch fails, at-least-once redelivery applies), so saturation
  * degrades to retries, never to unbounded threads or memory. */
final class HttpSubscriber(spark: SparkSession, port: Int = 0,
    maxBodyBytes: Long = 256L << 20,
    maxConcurrentBodies: Int = HttpSubscriber.defaultPermits)
  extends Subscriber with SubscribeInitializer with AutoCloseable {
  require(maxConcurrentBodies > 0,
    s"maxConcurrentBodies must be positive: $maxConcurrentBodies")

  private val broker = new MemoryPubSub(spark)

  /** Gates the expensive section (body buffering + enqueue); the
    * cheap rejections (405/404/503) never need a permit. */
  private val ingestGate =
    new java.util.concurrent.Semaphore(maxConcurrentBodies)
  /** Spec hook: observe gate occupancy without racing the handlers. */
  private[sources] def availableIngestPermits: Int =
    ingestGate.availablePermits()

  /** Spec seam: runs inside the gated ingest section, before the body
    * read — lets a spec inject a handler-path fault (an `Exception`
    * must answer 500; a JVM-fatal must PROPAGATE) without a real OOM. */
  @volatile private[sources] var ingestFault: () => Unit = () => ()

  /** Bounded body read (the io transport's line-cap rule at the HTTP
    * edge): an unbounded `readAllBytes` lets ONE hostile multi-GB POST
    * OOM the driver before any validation runs. None = over the cap —
    * answered 413, a CALLER error rather than a 500 nack, because a
    * retry of the same oversized body can never succeed and a nack
    * would turn it into a permanent retry wedge. */
  private def readBounded(in: java.io.InputStream): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n != -1) {
      if (out.size.toLong + n > maxBodyBytes) return None
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }

  // declared BEFORE server: class-body initializers run in order, and
  // a later `= null` initializer would wipe the assignment made inside
  // server's init block
  @volatile private var executor: java.util.concurrent.ExecutorService = null

  private val server: HttpServer = {
    HttpSubscriber.ensureMaxReqTime // must precede the first create()
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/", exchange => {
      try {
        val topicOfPath = exchange.getRequestURI.getPath.stripPrefix("/")
        if (exchange.getRequestMethod != "POST") {
          exchange.sendResponseHeaders(405, -1)
        } else if (topicOfPath.isEmpty) {
          // a POST to "/" has no topic — reject instead of silently
          // filing every such message under the "" topic
          exchange.sendResponseHeaders(404, -1)
        } else if (!ingestGate.tryAcquire()) {
          // every permit is held by an in-flight body read: reject
          // BEFORE touching the body, keeping both bounds hard
          // (≤ permits bodies buffering, ≤ permits long-held
          // threads). 503 = retryable server condition — the
          // publisher's non-2xx throw → batch fail → at-least-once
          // redelivery, exactly the documented nack contract.
          exchange.sendResponseHeaders(503, -1)
        } else try {
          ingestFault()
          readBounded(exchange.getRequestBody) match {
          case None =>
            exchange.sendResponseHeaders(413, -1) // over cap: caller error
          case Some(body) =>
          val topic = topicOfPath
          val headers = exchange.getRequestHeaders
          val uuid = Option(headers.getFirst(HttpWire.UuidHeader))
            .getOrElse(Ids.newUuid())
          val meta = {
            val b = Map.newBuilder[String, String]
            headers.forEach { (k, vs) =>
              // HttpServer canonicalizes header case ('X-Graft-Meta-
              // correlation_id' arrives as '...-Correlation_id'), so the
              // extracted key is LOWERCASED — header names are case-
              // insensitive by RFC, and delivering the canonicalized
              // case broke every metadata-keyed consumer (correlation,
              // dedup) after one HTTP hop. Contract: metadata keys are
              // case-insensitive on this transport, delivered lowercase.
              if (k.equalsIgnoreCase(HttpWire.EncHeader)) ()
              else if (k.toLowerCase.startsWith(HttpWire.MetaPrefix.toLowerCase) && !vs.isEmpty)
                b += k.substring(HttpWire.MetaPrefix.length).toLowerCase -> vs.get(0)
            }
            // entries that couldn't ride one-per-header (non-token key,
            // CTL value) arrive URL-encoded in the carrier header —
            // original key case and value bytes preserved exactly
            Option(headers.getFirst(HttpWire.EncHeader)).foreach { enc =>
              try b ++= HttpWire.decodeUnsafe(enc)
              catch { case _: Exception => () } // malformed carrier: drop, never wedge
            }
            b.result()
          }
          broker.publish(topic, Seq(Message(uuid, meta, body,
            new Timestamp(System.currentTimeMillis()))))
          exchange.sendResponseHeaders(200, -1) // enqueued = acked
        } } finally ingestGate.release()
      } catch {
        // NonFatal ONLY: a JVM-fatal state (an OOM on the 256 MB body
        // path, a stack overflow) must PROPAGATE — converting it to a
        // retryable 500 would advertise a healthy edge from a JVM that
        // is dying. The fatal kills this worker thread (the fixed pool
        // replaces it); the permit and the exchange still release via
        // the finally blocks, so service resumes for other clients.
        case scala.util.control.NonFatal(_) =>
          exchange.sendResponseHeaders(500, -1) // nack: sender retries
      } finally exchange.close()
    })
    // a BOUNDED pool, not the dispatch thread (metrics'
    // setExecutor(null) is fine for scrape-rate GETs): this is the
    // INGEST edge, and with a single serving thread one slow-bodied
    // client parks every other producer behind it for the duration of
    // its dribble — a one-connection denial of ingestion. An
    // UNbounded (cached) pool just trades that for thread/memory
    // exhaustion on the same untrusted edge: N hostile dribblers = N
    // threads × maxBodyBytes buffering. Hence fixed size
    // permits + 4: the semaphore caps body-readers at `permits`, so
    // ≥ 4 threads are always free to drain the queue with
    // microsecond-fast answers (405/404/413/503) — a fast producer is
    // served (or told to retry) regardless of how many dribblers are
    // mid-body. Per-publisher ordering survives the pool: a publisher
    // sends request N+1 only after N's response, which is written
    // after the enqueue. Daemon threads; close() shuts the pool down.
    executor = {
      val p = new java.util.concurrent.ThreadPoolExecutor(
        maxConcurrentBodies + 4, maxConcurrentBodies + 4,
        60L, java.util.concurrent.TimeUnit.SECONDS,
        new java.util.concurrent.LinkedBlockingQueue[Runnable](),
        (r: Runnable) => {
          val t = new Thread(r, "graft-http-ingest")
          t.setDaemon(true); t
        })
      p.allowCoreThreadTimeOut(true) // idle edge holds no threads
      p
    }
    s.setExecutor(executor)
    s.start()
    s
  }

  def boundPort: Int = server.getAddress.getPort

  override def subscribe(topic: String): DataFrame = broker.subscribe(topic)
  override def subscribeBatch(topic: String): DataFrame = broker.subscribeBatch(topic)
  override def subscribeInitialize(topic: String): Unit =
    broker.subscribeInitialize(topic)
  override def close(): Unit = {
    server.stop(0)
    if (executor != null) { executor.shutdownNow(); () }
  }
}

/** Client half: POSTs every row to `<baseUrl>/<topic>`. `publishBatch`
  * egresses from EXECUTORS (`foreachPartition`, one client per
  * partition) — the driver never funnels the data, so throughput
  * scales with the cluster, bounded by the receiving endpoint. A non-
  * 2xx response throws, failing the micro-batch for redelivery (the
  * nack path).
  *
  * Every request carries `requestTimeoutMs` (connect is bounded too):
  * an endpoint that ACCEPTS the connection and never answers would
  * otherwise hang the posting task forever — a silently stuck
  * executor slot, not the documented throw-and-redeliver nack path.
  * On expiry `HttpClient.send` throws `HttpTimeoutException` (an
  * IOException), the micro-batch fails, and at-least-once redelivery
  * applies exactly as for a non-2xx response. Size the timeout above
  * the endpoint's slowest legitimate response — an expiry DOES
  * redeliver (the receiver dedupes by uuid, the transport contract). */
final class HttpPublisher(baseUrl: String,
    requestTimeoutMs: Long = 30000) extends Publisher with Serializable {
  require(requestTimeoutMs > 0,
    s"requestTimeoutMs must be positive: $requestTimeoutMs")

  // one client per INSTANCE side (driver here, per-partition in
  // publishBatch) — HttpClient owns a connection pool and executor
  // threads and pre-JDK21 has no close(), so a client per publish CALL
  // leaks thread churn under chatty publishers. @transient: the lazy
  // re-materializes after closure serialization.
  @transient private lazy val driverClient =
    HttpPublisher.newClient(requestTimeoutMs)

  override def publish(topic: String, msgs: Seq[Message]): Unit =
    msgs.foreach(m =>
      HttpPublisher.post(driverClient, baseUrl, topic, m, requestTimeoutMs))

  override def publishBatch(topic: String, df: DataFrame): Unit = {
    val url = baseUrl // local only — `this` must not serialize
    val timeoutMs = requestTimeoutMs
    df.select(Message.columns.map(org.apache.spark.sql.functions.col): _*)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val client = HttpPublisher.newClient(timeoutMs)
        rows.foreach { r =>
          HttpPublisher.post(client, url, topic, Message(
            r.getAs[String]("uuid"),
            Option(r.getAs[Map[String, String]]("metadata")).getOrElse(Map.empty),
            Option(r.getAs[Array[Byte]]("payload")).getOrElse(Array.emptyByteArray),
            r.getAs[Timestamp]("ts")), timeoutMs)
        }
      }
  }
}

object HttpPublisher {
  private[sources] def newClient(timeoutMs: Long): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .build()

  private[sources] def post(client: HttpClient, baseUrl: String, topic: String,
      m: Message, timeoutMs: Long = 30000): Unit = {
    val b = HttpRequest.newBuilder(java.net.URI.create(s"$baseUrl/$topic"))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        Option(m.payload).getOrElse(Array.emptyByteArray)))
      .header(HttpWire.UuidHeader, m.uuid)
    val (safe, unsafe) = Option(m.metadata).getOrElse(Map.empty)
      .partition { case (k, v) => HttpWire.headerSafe(k, v) }
    safe.foreach { case (k, v) => b.header(s"${HttpWire.MetaPrefix}$k", v) }
    if (unsafe.nonEmpty)
      b.header(HttpWire.EncHeader, HttpWire.encodeUnsafe(unsafe))
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.discarding())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"publish to $baseUrl/$topic failed: HTTP ${resp.statusCode()}")
  }
}
