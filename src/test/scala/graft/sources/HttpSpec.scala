package graft.sources

import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Message
import graft.router.{Middlewares, Router}

/** Loopback integration of the HTTP transport: HttpPublisher POSTs
  * (driver and executor paths) into HttpSubscriber's embedded server,
  * metadata riding X-Graft-Meta-* headers; a router consumes the
  * webhook stream end to end.
  */
class HttpSpec extends SparkSpec {

  import spark.implicits._

  private def msg(u: String, p: String, meta: Map[String, String] = Map.empty) =
    Message(u, meta, p.getBytes("UTF-8"), new Timestamp(1700000000000L))

  test("publish -> webhook server -> subscribeBatch round-trips uuid/metadata/payload") {
    val sub = new HttpSubscriber(spark)
    try {
      val pub = new HttpPublisher(s"http://localhost:${sub.boundPort}")
      pub.publish("hooks", Seq(
        msg("h1", "alpha", Map("correlation_id" -> "c1")),
        msg("h2", "beta")))
      val got = sub.subscribeBatch("hooks").as[Message].collect()
        .map(m => m.uuid -> m).toMap
      assert(got.keySet == Set("h1", "h2"))
      assert(got("h1").payloadString == "alpha")
      assert(got("h1").metadata == Map("correlation_id" -> "c1"))
      assert(got("h2").payloadString == "beta")
    } finally sub.close()
  }

  test("header-unsafe metadata (spaced key, newline value) round-trips via the carrier header") {
    // pre-fix: HttpRequest.Builder threw IllegalArgumentException on
    // the first non-token key or CTL value — on EVERY retry — wedging
    // the batch permanently instead of the documented retryable-nack
    // path. Unsafe entries now ride ONE URL-encoded carrier header,
    // original key case and value bytes preserved; safe entries stay
    // verbatim (wire-compatible with plain HTTP producers).
    val sub = new HttpSubscriber(spark)
    try {
      val pub = new HttpPublisher(s"http://localhost:${sub.boundPort}")
      pub.publish("hooks_u", Seq(msg("u1", "alpha", Map(
        "user id" -> "kafka-style key",
        "note" -> "line1\nline2",
        "plain" -> "ok"))))
      val got = sub.subscribeBatch("hooks_u").as[Message].collect().head
      assert(got.metadata("user id") == "kafka-style key")
      assert(got.metadata("note") == "line1\nline2")
      assert(got.metadata("plain") == "ok")
    } finally sub.close()
  }

  test("non-Latin-1 metadata values (CJK, emoji) ride the carrier, not the plain header path") {
    // pre-fix: headerSafe accepted chars in (0xFF, 0xFFFF], but JDK
    // HttpRequest.Builder rejects header VALUES with any char > 255 —
    // a CJK/emoji metadata value threw IllegalArgumentException on
    // every retry, the same permanent wedge the carrier header closed
    // for CTL values
    assert(!HttpWire.headerSafe("lang", "日本語"),
      "chars above 0xFF must not be judged header-safe")
    assert(!HttpWire.headerSafe("mood", "ok 🙂"),
      "surrogate pairs must not be judged header-safe")
    assert(HttpWire.headerSafe("latin1", "café"),
      "Latin-1 values stay on the plain header path")
    val sub = new HttpSubscriber(spark)
    try {
      new HttpPublisher(s"http://localhost:${sub.boundPort}")
        .publish("hooks_cjk", Seq(msg("j1", "alpha", Map(
          "title" -> "日本語のタイトル",
          "emoji" -> "🙂",
          "plain" -> "ok"))))
      val got = sub.subscribeBatch("hooks_cjk").as[Message].collect().head.metadata
      assert(got("title") == "日本語のタイトル", s"got $got")
      assert(got("emoji") == "🙂", s"got $got")
      assert(got("plain") == "ok", s"got $got")
    } finally sub.close()
  }

  test("server bounce on the same port: publisher retries bridge the downtime, no loss, no duplication (test_pubsub.go:1042)") {
    // the reference's TestReconnect restarts the BROKER service
    // mid-stream while publishers retry until it returns (gated there
    // by RestartServiceCommand, its service-restart hook — NOT by
    // Persistent). The in-process analogue for the webhook transport:
    // the server half dies (releasing its port) after its backlog was
    // drained, the retry wrapper absorbs the connection failures of
    // everything published during the downtime, a fresh server binds
    // the SAME port, and across the two incarnations every message
    // lands exactly once. (Rows 200-ed but neither drained nor still
    // retried do NOT survive an instance death — the broker is
    // in-memory by design, which is why the battery's restart row
    // stays gated off for http; this row covers the reconnect
    // contract the reference actually tests.)
    val sub1 = new HttpSubscriber(spark)
    val port = sub1.boundPort
    val url = s"http://localhost:$port"
    val phase1 = (0 until 5).map(i => msg(s"r$i", s"v$i"))
    new HttpPublisher(url).publish("hooks_rc", phase1)
    val got1 = sub1.subscribeBatch("hooks_rc").as[Message].collect().map(_.uuid).toSet
    assert(got1 == phase1.map(_.uuid).toSet)
    sub1.close() // the bounce: port released, in-flight 200s all drained

    // publishers keep going THROUGH the downtime, retrying on refused
    // connections (bounded backoff spans the restart window)
    val retrying = new RetryingPublisher(new HttpPublisher(url),
      maxRetries = 60, initialBackoffMs = 25,
      sleep = ms => Thread.sleep(math.min(ms, 200L)))
    val phase2 = (5 until 10).map(i => msg(s"r$i", s"v$i"))
    val publisherErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try retrying.publish("hooks_rc", phase2)
      catch { case e: Throwable => publisherErr.set(e) })
    t.start()
    Thread.sleep(300) // downtime the retries must bridge
    // fresh incarnation on the SAME port (brief bind retry: the old
    // listener's close may lag a tick)
    val sub2 = {
      val deadline = System.currentTimeMillis() + 5000
      var s: HttpSubscriber = null
      while (s == null) {
        try s = new HttpSubscriber(spark, port)
        catch { case e: java.io.IOException =>
          if (System.currentTimeMillis() > deadline) throw e
          Thread.sleep(50)
        }
      }
      s
    }
    try {
      t.join(30000)
      assert(!t.isAlive, "publisher thread must finish")
      assert(publisherErr.get == null,
        s"retries must bridge the bounce: ${publisherErr.get}")
      val got2 = sub2.subscribeBatch("hooks_rc").as[Message].collect().map(_.uuid)
      assert(got2.toSet == phase2.map(_.uuid).toSet,
        s"downtime publishes must all land exactly once, got ${got2.toSeq}")
      assert(got2.length == 5, s"no duplication through the retries: ${got2.toSeq}")
    } finally sub2.close()
  }

  test("metadata keys are case-insensitive over HTTP: delivered lowercase, deterministically") {
    // header NAMES are case-insensitive by RFC and the JDK server
    // canonicalizes them — a camelCase metadata key cannot survive the
    // hop; pinning lowercase delivery keeps every consumer (correlation,
    // dedup) deterministic instead of at the mercy of the server impl
    val sub = new HttpSubscriber(spark)
    try {
      new HttpPublisher(s"http://localhost:${sub.boundPort}")
        .publish("hooks_case", Seq(msg("c1", "x",
          Map("correlation_id" -> "ok", "myCamelKey" -> "v"))))
      val got = sub.subscribeBatch("hooks_case").as[Message].collect().head.metadata
      assert(got("correlation_id") == "ok", s"got $got")
      assert(got("mycamelkey") == "v" && !got.contains("myCamelKey"), s"got $got")
    } finally sub.close()
  }

  test("webhook rejects non-POST with 405 and keeps serving afterwards") {
    val sub = new HttpSubscriber(spark)
    try {
      val url = java.net.URI.create(s"http://localhost:${sub.boundPort}/hooks").toURL
      val get = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      get.setRequestMethod("GET")
      assert(get.getResponseCode == 405, "non-POST must be rejected, not enqueued")
      get.disconnect()
      // the rejection must not poison the server: a real publish still lands
      new HttpPublisher(s"http://localhost:${sub.boundPort}")
        .publish("hooks", Seq(msg("after405", "ok")))
      val got = sub.subscribeBatch("hooks").as[Message].collect().map(_.uuid).toSet
      assert(got == Set("after405"), s"delivery must continue after a 405: $got")
    } finally sub.close()
  }

  test("an over-cap POST body answers 413 at the bound, never buffers toward driver OOM") {
    // the io transport's line-cap rule at the HTTP edge: readAllBytes
    // buffered an UNBOUNDED request body, so one hostile multi-GB POST
    // OOM'd the driver before validation. Over-cap answers 413 (a
    // caller error — a retry of the same body can never succeed, so a
    // 500 nack would make a permanent retry wedge) and the server
    // keeps serving.
    val sub = new HttpSubscriber(spark, maxBodyBytes = 4096)
    try {
      val url = java.net.URI.create(s"http://localhost:${sub.boundPort}/hooks_cap").toURL
      val post = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      post.setRequestMethod("POST")
      post.setDoOutput(true)
      post.setChunkedStreamingMode(8192) // no Content-Length: the cap must bind mid-stream
      val out = post.getOutputStream
      try (0 until 8).foreach(_ => out.write(new Array[Byte](8192)))
      catch { case _: java.io.IOException => () } // server may cut the stream at the cap
      finally { try out.close() catch { case _: java.io.IOException => () } }
      assert(post.getResponseCode == 413,
        s"over-cap body must answer 413, got ${post.getResponseCode}")
      post.disconnect()
      // the rejection must not poison the server: a real publish lands
      new HttpPublisher(s"http://localhost:${sub.boundPort}")
        .publish("hooks_cap", Seq(msg("small", "ok")))
      val got = sub.subscribeBatch("hooks_cap").as[Message].collect().map(_.uuid).toSet
      assert(got == Set("small"), s"delivery must continue after a 413: $got")
    } finally sub.close()
  }

  test("a handler Exception answers 500 (retryable nack); a JVM-fatal PROPAGATES instead of masquerading as one") {
    // pre-fix: the ingest handler caught Throwable, converting a
    // JVM-fatal state (an OOM on the 256 MB body path) into a
    // retryable 500 — a dying JVM advertising a healthy edge. Now the
    // catch is NonFatal: an Exception still answers 500, a fatal kills
    // the worker thread LOUDLY (the fixed pool replaces it; permit and
    // exchange release via the finally blocks, so service resumes).
    val sub = new HttpSubscriber(spark)
    try {
      def post(expectStatus: Option[Int]): Option[Int] = {
        val url = java.net.URI.create(s"http://localhost:${sub.boundPort}/hooks_f").toURL
        val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST"); c.setDoOutput(true)
        try {
          val out = c.getOutputStream
          try out.write("x".getBytes("UTF-8")) finally out.close()
          val code = Some(c.getResponseCode)
          assert(expectStatus.forall(code.contains),
            s"expected $expectStatus got $code")
          code
        } catch {
          // a propagated fatal closes the connection with NO response:
          // the client sees an IOException, never an HTTP status
          case _: java.io.IOException =>
            assert(expectStatus.isEmpty, "expected an HTTP status, got a cut connection")
            None
        } finally c.disconnect()
      }
      sub.ingestFault = () => throw new RuntimeException("synthetic handler failure")
      post(expectStatus = Some(500))
      sub.ingestFault = () => throw new OutOfMemoryError("synthetic fatal (no real allocation)")
      assert(post(expectStatus = None).isEmpty,
        "a fatal must cut the connection, not answer 500")
      // the fatal must not leak its permit or wedge the edge
      sub.ingestFault = () => ()
      assert(sub.availableIngestPermits > 0, "permit must be released after a fatal")
      post(expectStatus = Some(200))
      val got = sub.subscribeBatch("hooks_f").as[Message].collect()
      assert(got.length == 1, "service resumes after the fatal")
    } finally sub.close()
  }

  test("a silent endpoint (accepts, never answers) throws within the request timeout instead of hanging the task") {
    // pre-fix: HttpClient.send had no request timeout, so an endpoint
    // that ACCEPTS the TCP connection and never responds parked the
    // posting task forever - a silently stuck executor slot, not the
    // documented throw-and-redeliver nack path. The timeout converts
    // the hang into HttpTimeoutException (an IOException): batch
    // fails, at-least-once redelivery applies.
    val silent = new java.net.ServerSocket(0)
    val sink = new Thread(() => {
      try while (true) { silent.accept(); () } // accept, never respond
      catch { case _: Exception => () }
    })
    sink.setDaemon(true); sink.start()
    try {
      val pub = new HttpPublisher(
        s"http://127.0.0.1:${silent.getLocalPort}", requestTimeoutMs = 400)
      val t0 = System.nanoTime()
      intercept[java.io.IOException] {
        pub.publish("hooks", Seq(msg("t1", "timeout-me")))
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(elapsedMs < 10000,
        s"publish to a silent endpoint must fail within the timeout, took ${elapsedMs}ms")
    } finally silent.close()
  }

  /** A hostile "dribbler": opens a raw socket, sends a complete POST
    * header block promising a large body, writes a few bytes, then
    * stalls with the connection open — holding its handler in
    * readBounded until closed. */
  private def dribbler(port: Int, topic: String): java.net.Socket = {
    val s = new java.net.Socket("127.0.0.1", port)
    val out = s.getOutputStream
    out.write((s"POST /$topic HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
      "Content-Length: 1000000\r\n\r\n").getBytes("US-ASCII"))
    out.write("partial".getBytes("US-ASCII"))
    out.flush()
    s
  }

  private def awaitPermits(sub: HttpSubscriber, n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (sub.availableIngestPermits != n) {
      assert(System.currentTimeMillis() < deadline,
        s"gate never reached $n free permits (at ${sub.availableIngestPermits})")
      Thread.sleep(20)
    }
  }

  test("slow-bodied clients neither starve a fast publisher nor grow the ingest pool unbounded") {
    // pre-fix (r17): ingest ran on newCachedThreadPool — one thread
    // per concurrent request, each buffering up to maxBodyBytes, so N
    // hostile dribblers held N threads and N×256 MB of driver heap.
    // Now a fixed pool of permits+4 threads with a semaphore capping
    // concurrent body reads: dribblers occupy permits, the spare
    // threads keep serving fast producers.
    val sub = new HttpSubscriber(spark, maxConcurrentBodies = 6)
    val socks = scala.collection.mutable.ArrayBuffer[java.net.Socket]()
    try {
      (0 until 3).foreach(_ => socks += dribbler(sub.boundPort, "hooks_drb"))
      awaitPermits(sub, 3) // all three dribblers are mid-body, holding permits
      // the fast client is served while the dribblers dribble
      new HttpPublisher(s"http://localhost:${sub.boundPort}",
        requestTimeoutMs = 5000)
        .publish("hooks_drb", Seq(msg("fast1", "through")))
      val got = sub.subscribeBatch("hooks_drb").as[Message].collect().map(_.uuid).toSet
      assert(got == Set("fast1"), s"fast publish must land mid-dribble: $got")
      // long-held thread bound: the pool is fixed at permits+4
      val ingestThreads = Thread.getAllStackTraces.keySet.toArray
        .count(_.asInstanceOf[Thread].getName == "graft-http-ingest")
      assert(ingestThreads <= 6 + 4,
        s"ingest pool must stay bounded at permits+4, saw $ingestThreads")
    } finally {
      socks.foreach(s => try s.close() catch { case _: Exception => () })
      sub.close()
    }
  }

  test("at capacity (every permit mid-body) an excess POST answers 503 — the retryable nack — and service resumes when a permit frees") {
    val sub = new HttpSubscriber(spark, maxConcurrentBodies = 1)
    val slow = dribbler(sub.boundPort, "hooks_cap2")
    try {
      awaitPermits(sub, 0) // the dribbler holds the only permit
      val pub = new HttpPublisher(s"http://localhost:${sub.boundPort}",
        requestTimeoutMs = 5000)
      // rejected BEFORE any body byte is read: publisher sees non-2xx
      // and throws — the documented batch-fail/redeliver nack path
      intercept[java.io.IOException] {
        pub.publish("hooks_cap2", Seq(msg("rej1", "bounced")))
      }
      slow.close() // dribbler gone: its read fails, permit released
      awaitPermits(sub, 1)
      pub.publish("hooks_cap2", Seq(msg("ok1", "after"))) // the "retry" lands
      val got = sub.subscribeBatch("hooks_cap2").as[Message].collect().map(_.uuid).toSet
      assert(got == Set("ok1"),
        s"rejected publish must not enqueue, freed permit must serve: $got")
    } finally {
      try slow.close() catch { case _: Exception => () }
      sub.close()
    }
  }

  test("publishBatch egresses from executors (foreachPartition), no loss") {
    val sub = new HttpSubscriber(spark)
    try {
      val pub = new HttpPublisher(s"http://localhost:${sub.boundPort}")
      val df = (0 until 40).map(i =>
        msg(s"b$i", s"p$i", Map("i" -> i.toString))).toDF().repartition(4)
      pub.publishBatch("bulk_hooks", df)
      val got = sub.subscribeBatch("bulk_hooks").as[Message].collect()
      assert(got.length == 40)
      assert(got.map(_.uuid).toSet == (0 until 40).map(i => s"b$i").toSet)
      val byUuid = got.map(m => (m.uuid, m.get("i"))).toMap
      assert(byUuid("b7") == "7")
    } finally sub.close()
  }

  test("router consumes the webhook stream like any other subscriber") {
    val sub = new HttpSubscriber(spark)
    val mem = new MemoryPubSub(spark)
    try {
      val pub = new HttpPublisher(s"http://localhost:${sub.boundPort}")
      pub.publish("ingress", Seq(msg("r1", "one"), msg("r2", "two")))
      val router = new Router(spark)
      router.addHandler("http-ingest", "ingress", sub, "ingested", mem,
        Middlewares.passthrough)
      router.run(); router.processAllAvailable(); router.close()
      val got = mem.subscribeBatch("ingested").collect().map(_.getAs[String]("uuid")).toSet
      assert(got == Set("r1", "r2"))
    } finally sub.close()
  }
}
