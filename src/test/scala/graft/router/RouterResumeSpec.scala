package graft.router

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Message
import graft.metrics.GraftMetrics
import graft.sources.FilePubSub

/** Offset-resume and rate-limit semantics over the durable (file)
  * transport: TestContinueAfterSubscribeClose
  * (pubsub/tests/test_pubsub.go:607 — resume from offset, no loss, no
  * reprocessing) and the Throttle source-rate mapping
  * (middleware/throttle.go:11-31).
  */
/** Executor-side fault toggle for the crash-restart row: the handler
  * closure must capture a static, never the enclosing spec (Spark
  * serializes closures per task even in local mode). */
object CrashToggle {
  val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
}

/** Separate toggles for the mid-run() crash-race row (static for the
  * same closure-serialization reason). */
object RaceToggle {
  val early = new java.util.concurrent.atomic.AtomicBoolean(true)
  val late = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class RouterResumeSpec extends SparkSpec {

  private def msg(u: String, p: String) =
    Message(u, Map.empty, p.getBytes("UTF-8"), new Timestamp(1700000000000L))

  test("restarted router resumes from committed offsets: no loss, no reprocessing") {
    val root = Files.createTempDirectory("graft-resume-").toString
    val ckpt = Files.createTempDirectory("graft-resume-ck-").toString
    val ps = new FilePubSub(spark, root)
    ps.subscribeInitialize("r_in")
    ps.subscribeInitialize("r_out")
    ps.publish("r_in", Seq(msg("m1", "a"), msg("m2", "b")))

    // first incarnation processes the first two
    val r1 = new Router(spark, checkpointRoot = Some(ckpt))
    r1.addHandler("resumable", "r_in", ps, "r_out", ps, Middlewares.passthrough)
    r1.run(); r1.processAllAvailable(); r1.close()
    assert(ps.subscribeBatch("r_out").count() == 2)

    // messages arrive while the router is DOWN
    ps.publish("r_in", Seq(msg("m3", "c"), msg("m4", "d")))

    // second incarnation, same checkpoint: picks up ONLY the new ones
    val r2 = new Router(spark, checkpointRoot = Some(ckpt))
    r2.addHandler("resumable", "r_in", ps, "r_out", ps, Middlewares.passthrough)
    r2.run(); r2.processAllAvailable(); r2.close()

    val out = ps.subscribeBatch("r_out").collect().map(_.getAs[String]("uuid"))
    assert(out.length == 4, s"expected exactly 4 outputs, got ${out.toSeq}")
    assert(out.toSet == Set("m1", "m2", "m3", "m4")) // no loss, no dups
  }

  test("stopHandler stops ONE handler; siblings keep consuming; run() restarts it from its checkpoint") {
    // parity with Handler.Stop()/Stopped() (message/router.go:702-723):
    // stopping one handler must not disturb a sibling's consumption,
    // and the stopped handler must resume from its committed offsets —
    // no loss, no reprocessing — when run() is called again.
    val root = Files.createTempDirectory("graft-stop1-").toString
    val ckpt = Files.createTempDirectory("graft-stop1-ck-").toString
    val ps = new FilePubSub(spark, root)
    Seq("h1_in", "h1_out", "h2_in", "h2_out").foreach(ps.subscribeInitialize)
    ps.publish("h1_in", Seq(msg("a1", "x")))
    ps.publish("h2_in", Seq(msg("b1", "x")))

    val r = new Router(spark, checkpointRoot = Some(ckpt))
    r.addHandler("stoppable", "h1_in", ps, "h1_out", ps, Middlewares.passthrough)
    r.addHandler("sibling", "h2_in", ps, "h2_out", ps, Middlewares.passthrough)
    // plugins must run ONCE per router, not once per run(): the
    // restart path below re-calls run(), and a plugin that mutates
    // router state (addMiddleware is the common case) would stack its
    // effect onto the restarted handler's rebuilt chain
    val pluginRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    r.addPlugin(_ => { pluginRuns.incrementAndGet(); () })
    r.run(); r.processAllAvailable()
    assert(ps.subscribeBatch("h1_out").count() == 1)
    assert(ps.subscribeBatch("h2_out").count() == 1)

    r.stopHandler("stoppable")
    assert(r.awaitHandlerStopped("stoppable"), "stop must complete")
    assert(r.running.keySet == Set("sibling"), "only the sibling stays registered")
    assert(r.running("sibling").isActive, "the sibling must keep running")

    // traffic while ONE handler is down: the sibling consumes it, the
    // stopped handler's input parks at its committed offset
    ps.publish("h1_in", Seq(msg("a2", "y")))
    ps.publish("h2_in", Seq(msg("b2", "y")))
    r.running("sibling").processAllAvailable()
    assert(ps.subscribeBatch("h2_out").count() == 2, "sibling undisturbed")
    assert(ps.subscribeBatch("h1_out").count() == 1, "stopped handler consumes nothing")

    // run() restarts ONLY the stopped handler (the sibling's query is
    // still registered) — from its checkpoint: a2 arrives, a1 does not replay
    r.run(); r.processAllAvailable()
    val out = ps.subscribeBatch("h1_out").collect().map(_.getAs[String]("uuid"))
    assert(out.length == 2 && out.toSet == Set("a1", "a2"),
      s"checkpoint resume after stopHandler: no loss, no reprocessing — got ${out.toSeq}")
    // the CLEAN stop's termination record must not outlive the
    // restart: a stale record makes every awaitAnyTermination return
    // immediately — a run(); awaitAnyTermination() supervisor would
    // spin hot forever. run() clears it when it replaces ANY
    // terminated query, not only crashed ones.
    assert(!spark.streams.awaitAnyTermination(200L),
      "no stale clean-stop termination record after the restarting run()")
    // awaiting a registered-but-running handler times out false; an
    // unknown name fails fast
    assert(!r.awaitHandlerStopped("sibling", timeoutMs = 200))
    intercept[IllegalArgumentException](r.stopHandler("nope"))
    assert(pluginRuns.get() == 1,
      s"plugins must run once per router, ran ${pluginRuns.get()} times across 2 run() calls")
    // a plugin added AFTER a run() still executes — exactly once — on
    // the next run(); the earlier plugin does not re-run
    val latePlugin = new java.util.concurrent.atomic.AtomicInteger(0)
    r.addPlugin(_ => { latePlugin.incrementAndGet(); () })
    r.run(); r.run()
    assert(latePlugin.get() == 1 && pluginRuns.get() == 1,
      s"late plugin ran ${latePlugin.get()}x, early ${pluginRuns.get()}x — each must be exactly 1")
    // a plugin registered BY a running plugin executes too (the walk
    // is indexed, not a snapshot that would mark it ran unexecuted)
    val nested = new java.util.concurrent.atomic.AtomicInteger(0)
    r.addPlugin(rt => {
      rt.addPlugin(_ => { nested.incrementAndGet(); () }); ()
    })
    r.run()
    assert(nested.get() == 1,
      s"a plugin registered by a running plugin must execute once, ran ${nested.get()}x")
    r.close()
  }

  test("a CRASHED handler: awaitHandlerStopped answers true (no rethrow) and run() restarts it, redelivering the batch") {
    // "is it down" must answer yes for a handler whose query
    // terminated WITH an error — that is exactly when an operator
    // asks before redeploying; the error itself still surfaces via
    // running(name).exception. And run() must then actually RESTART
    // it: a dead query must not linger in the registry as if running.
    // The crash never committed its batch, so the restart redelivers
    // it — no loss (the at-least-once contract).
    val root = Files.createTempDirectory("graft-crash-").toString
    val ps = new FilePubSub(spark, root)
    ps.subscribeInitialize("c_in")
    ps.subscribeInitialize("c_out")
    ps.publish("c_in", Seq(msg("m1", "a")))
    val r = new Router(spark)
    try {
      CrashToggle.crash.set(true)
      r.addHandler("crasher", "c_in", ps, "c_out", ps, (m: Message) => {
        if (CrashToggle.crash.get()) throw new RuntimeException("synthetic handler crash")
        Seq(m)
      })
      r.run()
      assert(r.awaitHandlerStopped("crasher", timeoutMs = 60000),
        "a crashed handler is stopped, not a rethrow")
      // recover the fault and restart: the uncommitted m1 redelivers
      CrashToggle.crash.set(false)
      r.run(); r.processAllAvailable()
      val out = ps.subscribeBatch("c_out").collect().map(_.getAs[String]("uuid"))
      assert(out.toSeq == Seq("m1"),
        s"restart after crash must redeliver the uncommitted batch: ${out.toSeq}")
      // the supervision pattern run(); awaitAnyTermination() must wait
      // for the NEXT termination, not rethrow the STALE crash run()
      // just replaced: run() clears the session's terminated-query
      // record when it swaps out a crashed query (no manual
      // resetTerminated needed here — that's the point)
      assert(!spark.streams.awaitAnyTermination(300L),
        "no stale termination may linger after a crash-replacing run()")
    } finally {
      r.close()
      // the shared test session must not remember the deliberate
      // crash: a later test calling spark.streams.awaitAnyTermination()
      // would otherwise rethrow it
      spark.streams.resetTerminated()
    }
  }

  test("a crash landing between run()'s reset and its walk is restarted AND its record cleared by the NEXT run() — the supervisor rethrows at most once, never forever") {
    // The one stale-record path the reset ordering alone can't cover:
    // run() resets the session's terminated-query record, then a query
    // crashes BEFORE the replacement walk reaches it. The walk replaces
    // it (restarted, good) but its record was written AFTER the reset —
    // if the walk's removal didn't mark stoppedSinceRun, no later run()
    // would ever clear that record and a run(); awaitAnyTermination()
    // supervisor would rethrow the already-recovered crash forever (a
    // hot loop: run() sees all-active + flag false, does nothing).
    // Contract pinned here: the stale record survives the replacing
    // run() (at most ONE extra supervisor spin), and the NEXT run()
    // clears it. Driven deterministically via the afterResetBeforeWalk
    // seam, which runs inside run()'s critical section at exactly the
    // post-reset instant.
    val root = Files.createTempDirectory("graft-racecrash-").toString
    val ckpt = Files.createTempDirectory("graft-racecrash-ck-").toString
    val ps = new FilePubSub(spark, root)
    Seq("e_in", "e_out", "l_in", "l_out").foreach(ps.subscribeInitialize)
    ps.publish("e_in", Seq(msg("me1", "a")))
    ps.publish("l_in", Seq(msg("ml1", "b")))

    val r = new Router(spark, checkpointRoot = Some(ckpt))
    try {
      RaceToggle.early.set(true)
      RaceToggle.late.set(false)
      r.addHandler("early", "e_in", ps, "e_out", ps, (m: Message) => {
        if (RaceToggle.early.get()) throw new RuntimeException("synthetic early crash")
        Seq(m)
      })
      r.addHandler("late", "l_in", ps, "l_out", ps, (m: Message) => {
        if (RaceToggle.late.get()) throw new RuntimeException("synthetic late crash")
        Seq(m)
      })
      r.run()
      // crash #1: "early" dies; "late" consumes ml1 and stays up
      assert(r.awaitHandlerStopped("early", timeoutMs = 60000))
      r.running("late").processAllAvailable()
      RaceToggle.early.set(false)

      // the recovering run(): inside the seam (reset already done,
      // walk not yet started) crash "late" — its record lands in the
      // window the reset can no longer see
      val lateQ = r.running("late")
      r.afterResetBeforeWalk = () => {
        RaceToggle.late.set(true)
        ps.publish("l_in", Seq(msg("ml2", "c")))
        try lateQ.awaitTermination(60000)
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
        }
        assert(!lateQ.isActive, "the mid-run() crash must have landed")
        RaceToggle.late.set(false) // recover so the walk's restart holds
      }
      r.run()
      r.afterResetBeforeWalk = () => ()

      // both were replaced and are live
      assert(r.running("early").isActive && r.running("late").isActive)
      // the stale record survives THIS run (written after its reset):
      // the supervisor rethrows the recovered crash exactly once...
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        spark.streams.awaitAnyTermination(300L)
      }
      // ...and its reacting run() (all queries active — the ONLY
      // signal is the flag the walk's removal set) clears it
      r.run()
      assert(!spark.streams.awaitAnyTermination(300L),
        "the run() after a mid-run()-crash replacement must clear the stale record")

      // the crashes never committed their batches: both redeliver
      r.processAllAvailable()
      val eOut = ps.subscribeBatch("e_out").collect().map(_.getAs[String]("uuid"))
      val lOut = ps.subscribeBatch("l_out").collect().map(_.getAs[String]("uuid"))
      assert(eOut.toSeq == Seq("me1"), s"early redelivers: ${eOut.toSeq}")
      assert(lOut.toSet == Set("ml1", "ml2"), s"late redelivers: ${lOut.toSeq}")
    } finally {
      r.afterResetBeforeWalk = () => ()
      r.close()
      spark.streams.resetTerminated()
    }
  }

  test("control plane: a run() racing stopHandler blocks on the lock — a restarted query is never stranded outside the registry") {
    // The unserialized interleaving (VERDICT r19 #1): stopHandler stops
    // the query, then — before its registry remove — a concurrent run()
    // sees the inactive entry, replaces it and starts a NEW query,
    // which stopHandler's pending remove then deregisters while it
    // keeps running: live but invisible to running()/close(), and the
    // next run() dies on same-checkpoint-already-active. The control
    // lock must make run() WAIT. Driven deterministically through the
    // afterStopBeforeRemove seam, which runs inside stopHandler's
    // critical section at exactly the hazardous instant.
    val root = Files.createTempDirectory("graft-cplane-").toString
    val ckpt = Files.createTempDirectory("graft-cplane-ck-").toString
    val ps = new FilePubSub(spark, root)
    ps.subscribeInitialize("cp_in")
    ps.subscribeInitialize("cp_out")
    ps.publish("cp_in", Seq(msg("p1", "a")))

    val r = new Router(spark, checkpointRoot = Some(ckpt))
    r.addHandler("cp_h", "cp_in", ps, "cp_out", ps, Middlewares.passthrough)
    r.run(); r.processAllAvailable()

    val inSeam = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    r.afterStopBeforeRemove = () => {
      inSeam.countDown()
      assert(proceed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "seam release must arrive")
    }
    val stopper = new Thread(() => r.stopHandler("cp_h"), "cplane-stopper")
    stopper.start()
    assert(inSeam.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "stopHandler must reach its critical section")
    // stopHandler is now INSIDE stop-and-remove: query stopped, entry
    // still registered. The racing run() must block on the lock instead
    // of replacing the entry.
    val runner = new Thread(() => { r.run(); () }, "cplane-runner")
    runner.start()
    runner.join(500)
    assert(runner.isAlive,
      "run() must block while stopHandler holds the control lock")
    // the REGISTRATION surface must NOT block behind the held control
    // lock (it takes only the short regLock): an operator probing
    // "is it down" or wiring a new handler while a stop is wedged
    // must get an answer inside their own timeout, not the stop's
    val probe = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
    val prober = new Thread(() => {
      probe.set(Some(r.awaitHandlerStopped("cp_h", timeoutMs = 1000)))
    }, "cplane-prober")
    val adder = new Thread(() => {
      r.addHandler("cp_late", "cp_in", ps, "cp_out", ps,
        Middlewares.passthrough); ()
    }, "cplane-adder")
    prober.start(); adder.start()
    prober.join(5000); adder.join(5000)
    assert(!prober.isAlive && probe.get() == Some(true),
      "awaitHandlerStopped must answer within its timeout while the " +
        s"control lock is held (got ${probe.get()})")
    assert(!adder.isAlive,
      "addHandler must not block behind the held control lock")
    proceed.countDown()
    stopper.join(30000); runner.join(30000)
    assert(!stopper.isAlive && !runner.isAlive, "both control calls finish")
    r.afterStopBeforeRemove = () => ()

    // invariant: the registry and the live-query set AGREE. The queued
    // run() restarted the handler AFTER the removal — so it is running
    // AND registered (not a stranded anonymous duplicate) — and the
    // handler registered DURING the lock wait was picked up by the
    // same run()'s snapshot.
    assert(r.running.keySet == Set("cp_h", "cp_late"),
      s"registered: ${r.running.keySet}")
    assert(r.running("cp_h").isActive, "the restarted query is live")
    val live = spark.streams.active
      .filter(q => Option(q.name).contains("graft-cp_h"))
    assert(live.length == 1,
      s"exactly ONE live query for the handler, got ${live.length}")
    // close() reaches it — nothing survives outside the registry
    r.close()
    assert(!spark.streams.active.exists(q => Option(q.name).contains("graft-cp_h")),
      "close() must stop the restarted query — nothing stranded")
  }

  test("control plane under randomized concurrent churn: registry and live-query set agree, close() reaches everything") {
    // The deterministic seam rows pin the KNOWN hazardous
    // interleavings; this row churns run()/stopHandler/
    // awaitHandlerStopped from three threads with seeded schedules to
    // guard the unknown ones. Invariants afterward: a final run()
    // leaves every handler registered AND active, the session's
    // graft-named active set equals the registry's queries (no
    // stranded duplicates, no same-checkpoint-already-active crash
    // during the churn), and close() stops all of it.
    val root = Files.createTempDirectory("graft-churn-").toString
    val ckpt = Files.createTempDirectory("graft-churn-ck-").toString
    val ps = new FilePubSub(spark, root)
    val names = Seq("ch_a", "ch_b")
    Seq("ch_in", "ch_out").foreach(ps.subscribeInitialize)
    ps.publish("ch_in", Seq(msg("c1", "x")))

    val r = new Router(spark, checkpointRoot = Some(ckpt))
    names.foreach(n =>
      r.addHandler(n, "ch_in", ps, "ch_out", ps, Middlewares.passthrough))
    r.run()

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 3).map { tid =>
      new Thread(() => {
        val rnd = new scala.util.Random(4243L + tid)
        try {
          (0 until 6).foreach { _ =>
            rnd.nextInt(7) match {
              case 0 | 1 => r.stopHandler(names(rnd.nextInt(names.length)))
              case 2 | 3 => r.run(); ()
              case 4 | 5 =>
                r.awaitHandlerStopped(names(rnd.nextInt(names.length)),
                  timeoutMs = 200); ()
              case _ => r.close() // stop-everything joins the churn too
            }
          }
        } catch { case e: Throwable => errors.add(e); () }
      }, s"churn-$tid")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "churn threads must finish")
    assert(errors.isEmpty,
      s"no control-plane call may crash under churn: ${errors.peek()}")

    r.run() // settle: restart anything the churn left stopped
    assert(r.running.keySet == names.toSet, s"registered: ${r.running.keySet}")
    assert(names.forall(n => r.running(n).isActive),
      "every handler active after the settling run()")
    val live = spark.streams.active
      .filter(q => Option(q.name).exists(_.startsWith("graft-ch_"))).toSeq
    assert(live.map(_.id).toSet == names.map(r.running(_).id).toSet,
      s"session active set must equal the registry: ${live.map(_.name)}")
    r.close()
    assert(!spark.streams.active.exists(q =>
      Option(q.name).exists(_.startsWith("graft-ch_"))),
      "close() stops everything — nothing stranded")
  }

  test("throttle: maxPerTrigger paces consumption across micro-batches") {
    val root = Files.createTempDirectory("graft-throttle-").toString
    val ps = new FilePubSub(spark, root)
    ps.subscribeInitialize("t_in")
    ps.subscribeInitialize("t_out")
    // three separate publishes = three files
    ps.publish("t_in", Seq(msg("t1", "x")))
    ps.publish("t_in", Seq(msg("t2", "y")))
    ps.publish("t_in", Seq(msg("t3", "z")))

    val metrics = new GraftMetrics().attach(spark)
    try {
      val router = new Router(spark)
      router.addHandler("throttled", "t_in", ps, "t_out", ps,
        Middlewares.passthrough,
        options = HandlerOptions(maxPerTrigger = Some(1))) // 1 file per trigger
      router.run(); router.processAllAvailable(); router.close()

      assert(ps.subscribeBatch("t_out").count() == 3) // everything arrives...
      val deadline = System.currentTimeMillis() + 10000
      def batches = metrics.snapshot.get("graft-throttled").map(_.batches).getOrElse(0L)
      while (System.currentTimeMillis() < deadline && batches < 3) Thread.sleep(100)
      assert(batches >= 3, s"expected >=3 paced micro-batches, got $batches") // ...rate-limited
    } finally metrics.detach(spark)
  }
}
