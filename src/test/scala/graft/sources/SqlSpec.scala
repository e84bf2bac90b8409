package graft.sources

import java.sql.Timestamp

import graft.SparkSpec
import graft.core.Message
import graft.router.{Middlewares, Router}

/** SQL transport over embedded Derby (`jdbc:derby:memory:`): DDL,
  * driver and executor publish paths, CDC-polling subscribe with
  * durable consumer-group offsets (resume without redelivery), and a
  * router consuming the polled stream.
  */
class SqlSpec extends SparkSpec {

  import spark.implicits._

  private def url(db: String) = s"jdbc:derby:memory:$db;create=true"

  private def msg(u: String, p: String, meta: Map[String, String] = Map.empty) =
    Message(u, meta, p.getBytes("UTF-8"), new Timestamp(1700000000000L))

  test("publish (driver inserts) -> subscribeBatch round-trips the envelope") {
    val ps = new SqlPubSub(spark, url("sqlrt"))
    try {
      ps.publish("t_rt", Seq(
        msg("s1", "alpha", Map("correlation_id" -> "c9")),
        msg("s2", "beta")))
      val got = ps.subscribeBatch("t_rt").as[Message].collect()
        .map(m => m.uuid -> m).toMap
      assert(got.keySet == Set("s1", "s2"))
      assert(got("s1").payloadString == "alpha")
      assert(got("s1").metadata == Map("correlation_id" -> "c9"))
      assert(got("s2").metadata == Map.empty)
    } finally ps.close()
  }

  test("distinct topics that sanitize identically stay in distinct tables (no aliasing)") {
    val ps = new SqlPubSub(spark, url("sqlalias"))
    try {
      // both sanitize to graft_t_a_b without the hash fragment — the
      // regression this test pins was one shared, silently mixed table
      ps.publish("a.b", Seq(msg("dot", "from-dot")))
      ps.publish("a+b", Seq(msg("plus", "from-plus")))
      val dot = ps.subscribeBatch("a.b").as[Message].collect().map(_.uuid).toSet
      val plus = ps.subscribeBatch("a+b").as[Message].collect().map(_.uuid).toSet
      assert(dot == Set("dot"), s"topic 'a.b' contaminated: $dot")
      assert(plus == Set("plus"), s"topic 'a+b' contaminated: $plus")
    } finally ps.close()
  }

  test("underscore topics do not LIKE-alias in the metadata existence check") {
    val ps = new SqlPubSub(spark, url("sqllike"))
    try {
      // getTables takes a LIKE pattern where '_' matches any char:
      // unescaped, initializing "axb" first made "a_b"'s CREATE a
      // silent no-op and every later publish failed table-not-found
      ps.publish("axb", Seq(msg("x1", "via-x")))
      ps.publish("a_b", Seq(msg("u1", "via-underscore")))
      val x = ps.subscribeBatch("axb").as[Message].collect().map(_.uuid).toSet
      val u = ps.subscribeBatch("a_b").as[Message].collect().map(_.uuid).toSet
      assert(x == Set("x1") && u == Set("u1"), s"aliased: $x / $u")
    } finally ps.close()
  }

  test("large metadata and long uuids fit the topic table (no redelivery wedge)") {
    // pre-fix widths (uuid 64 / metadata 4000) let ONE oversized
    // message — a 70-char foreign uuid, a poison-middleware reason
    // pushing metadata past 4000 — fail the INSERT with a
    // SQLDataException on every redelivery: a permanent wedge
    val ps = new SqlPubSub(spark, url("sqlwide"))
    try {
      val longUuid = "u" * 200
      val bigMeta = Map("reason_poisoned" -> ("x" * 8000), "k" -> "v")
      ps.publish("t_wide", Seq(msg(longUuid, "payload", bigMeta)))
      val got = ps.subscribeBatch("t_wide").as[Message].collect().head
      assert(got.uuid == longUuid)
      assert(got.metadata == bigMeta)
    } finally ps.close()
  }

  test("oversized topic / group names are rejected loudly at initialize") {
    val ps = new SqlPubSub(spark, url("sqllen"))
    try {
      val longTopic = "t" * 200
      val e = intercept[IllegalArgumentException] {
        ps.subscribeInitialize(longTopic)
      }
      assert(e.getMessage.contains("128"))
    } finally ps.close()
    val psg = new SqlPubSub(spark, url("sqllen2"), group = "g" * 200)
    try intercept[IllegalArgumentException] { psg.subscribeInitialize("ok") }
    finally psg.close()
  }

  test("poller holds at an id hole, then steps over it once the gap timeout passes") {
    // identity ids are assigned before commit: a hole below visible
    // rows means a possibly-in-flight publisher. The poller must NOT
    // advance past it (those rows would be skipped forever once
    // committed); a hole that persists past gapTimeoutMs is a rolled-
    // back id and is stepped over.
    val db = url("sqlgap")
    val ps = new SqlPubSub(spark, db, group = "gg", pollIntervalMs = 20,
      gapTimeoutMs = 600)
    try {
      ps.subscribeInitialize("gap_t")
      ps.publish("gap_t", (1 to 5).map(i => msg(s"g$i", s"p$i")))
      // delete the middle row -> permanent hole at offset 3
      val c = java.sql.DriverManager.getConnection(db)
      try {
        val st = c.createStatement()
        try st.executeUpdate(
          "DELETE FROM \"graft_t_gap_t\" WHERE \"offset_id\" = 3")
        finally st.close()
      } finally c.close()
      val received = new java.util.concurrent.atomic.LongAdder
      val q = ps.subscribe("gap_t").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sqlgap-ck-").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          received.add(b.count()); ()
        }.start()
      try {
        val deadline = System.currentTimeMillis() + 20000
        while (received.sum < 4 && System.currentTimeMillis() < deadline) {
          Thread.sleep(50); q.processAllAvailable()
        }
        assert(received.sum == 4,
          s"expected 4 rows after stepping the hole, got ${received.sum}")
      } finally q.stop()
    } finally ps.close()
  }

  test("publishBatch goes through Spark's JDBC sink (executor inserts)") {
    val ps = new SqlPubSub(spark, url("sqlbulk"))
    try {
      val df = (0 until 30).map(i => msg(s"q$i", s"p$i", Map("i" -> i.toString)))
        .toDF().repartition(3)
      ps.publishBatch("t_bulk", df)
      val got = ps.subscribeBatch("t_bulk").as[Message].collect()
      assert(got.length == 30)
      assert(got.map(_.uuid).toSet == (0 until 30).map(i => s"q$i").toSet)
      assert(got.map(m => m.uuid -> m.get("i")).toMap.apply("q7") == "7")
    } finally ps.close()
  }

  test("publishEpoch is exactly-once: marker and rows commit in one transaction") {
    val ps = new SqlPubSub(spark, url("sqleo"))
    try {
      def frame(us: String*) = us.map(u => msg(u, u)).toDF()
      ps.publishEpoch("t_eo", frame("a", "b"), writerId = "w-0")
      ps.publishEpoch("t_eo", frame("a", "b"), writerId = "w-0") // the retry
      ps.publishEpoch("t_eo", frame("c"), writerId = "w-1")      // next epoch
      val got = ps.subscribeBatch("t_eo").collect().map(_.getAs[String]("uuid"))
      assert(got.length == 3 && got.toSet == Set("a", "b", "c"))
    } finally ps.close()
  }

  test("publishRoutedEpoch writes each destination once, idempotent on retry") {
    val ps = new SqlPubSub(spark, url("sqlrtd"))
    try {
      val routed = Seq(("ra", "t_x"), ("rb", "t_x"), ("rc", "t_y"))
        .map { case (u, t) => (u, Map.empty[String, String], u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), t) }
        .toDF("uuid", "metadata", "payload", "ts", "_topic")
      ps.publishRoutedEpoch(routed, "_topic", writerId = "h-0")
      ps.publishRoutedEpoch(routed, "_topic", writerId = "h-0") // the retry
      assert(ps.subscribeBatch("t_x").collect().map(_.getAs[String]("uuid")).toSet ==
        Set("ra", "rb"))
      assert(ps.subscribeBatch("t_y").count() == 1)
    } finally ps.close()
  }

  test("epoch publish is executor-parallel and replay-idempotent per partition") {
    val ps = new SqlPubSub(spark, url("sqlpareo"))
    try {
      def frame = (0 until 64).map(i => msg(s"pp$i", s"v$i")).toDF().repartition(8)
      ps.publishEpoch("t_ppeo", frame, writerId = "w-pp")
      ps.publishEpoch("t_ppeo", frame, writerId = "w-pp") // full micro-batch replay
      val got = ps.subscribeBatch("t_ppeo").collect().map(_.getAs[String]("uuid"))
      assert(got.length == 64, s"replay duplicated: ${got.length}")
      assert(got.toSet == (0 until 64).map(i => s"pp$i").toSet)
    } finally ps.close()
  }

  test("a replayed PARTITION skips on its own marker while fresh partitions write") {
    // drives the executor-side helper directly (driver = partition 0):
    // the partial-failure shape — one partition committed, the job
    // died, the retry re-runs EVERY partition — must re-insert nothing
    // for the committed one and deliver the rest exactly once
    val dbUrl = url("sqlppart")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.subscribeInitialize("t_part")
      ps.publishEpoch("t_part", Seq(msg("seed", "s")).toDF(), "w-seed") // creates marker table
      def rows(topic: String, us: String*) = us.map(u =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), topic)).iterator
      val tbl = "graft_t_t_part"
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_part" -> tbl), "w-r", rows("t_part", "a", "b"))
      // the retry of the same partition (same key) must skip
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_part" -> tbl), "w-r", rows("t_part", "a", "b"))
      // a different writer epoch still writes
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_part" -> tbl), "w-r2", rows("t_part", "c"))
      val got = ps.subscribeBatch("t_part").collect().map(_.getAs[String]("uuid")).toSet
      assert(got == Set("seed", "a", "b", "c"), s"got $got")
    } finally ps.close()
  }

  test("concurrent partition attempts resolve on the marker lock: loser skips after commit, proceeds after rollback") {
    // the speculative-attempt contract: attempt B's marker insert
    // BLOCKS on attempt A's uncommitted marker row lock and resolves
    // to dup (skip) when A commits, or fresh (write) when A rolls back
    val dbUrl = url("sqlconc")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.publishEpoch("t_conc", Seq(msg("seed", "s")).toDF(), "w-seed")
      val tbl = "graft_t_t_conc"
      def rows(topic: String, us: String*) = us.map(u =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), topic)).iterator
      // attempt A's marker carries its row count, as every committed
      // marker does (the writers stamp it in the inserting transaction)
      def holdMarker(key: String, rowCount: Long)(
          resolve: java.sql.Connection => Unit): Thread = {
        val c = java.sql.DriverManager.getConnection(dbUrl)
        c.setAutoCommit(false)
        val st = c.prepareStatement(
          """INSERT INTO "graft_epochs" ("topic", "writer_id", "row_count")
            |VALUES (?, ?, ?)""".stripMargin)
        try {
          st.setString(1, "t_conc"); st.setString(2, key); st.setLong(3, rowCount)
          st.executeUpdate(); ()
        } finally st.close()
        // resolve A's transaction AFTER B has had time to block on the lock
        val t = new Thread(() => {
          Thread.sleep(400)
          try resolve(c) finally { c.setAutoCommit(true); c.close() }
        })
        t.start(); t
      }
      // shape 1: A commits (attempt A won) -> B must skip cleanly
      val tc = holdMarker("w-c#p0", 2L)(_.commit())
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_conc" -> tbl), "w-c", rows("t_conc", "b1", "b2"))
      tc.join(10000)
      assert(ps.subscribeBatch("t_conc").filter(
        org.apache.spark.sql.functions.col("uuid").isin("b1", "b2")).count() == 0,
        "loser attempt must skip after the winner commits")
      // shape 2: A rolls back (attempt A died) -> B proceeds and writes
      val tr = holdMarker("w-r#p0", 1L)(_.rollback())
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_conc" -> tbl), "w-r", rows("t_conc", "c1"))
      tr.join(10000)
      assert(ps.subscribeBatch("t_conc").filter(
        org.apache.spark.sql.functions.col("uuid") === "c1").count() == 1,
        "attempt must proceed after the holder rolls back")
    } finally ps.close()
  }

  test("routed epoch: a divergent replay fails loudly instead of dropping rows") {
    val dbUrl = url("sqlrdiv")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.subscribeInitialize("t_da")
      ps.subscribeInitialize("t_db")
      ps.publishEpoch("t_da", Seq(msg("seed", "s")).toDF(), "w-seed")
      val tables = Map("t_da" -> "graft_t_t_da", "t_db" -> "graft_t_t_db")
      def routedRows(pairs: (String, String)*) = pairs.map { case (u, t) =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), t)
      }.iterator
      // attempt 1 commits destinations {t_da}
      SqlPubSub.writeEpochPartition(dbUrl, tables, "w-d",
        routedRows("x" -> "t_da"))
      // clean replay: same contents — skips silently
      SqlPubSub.writeEpochPartition(dbUrl, tables, "w-d",
        routedRows("x" -> "t_da"))
      assert(ps.subscribeBatch("t_da").count() == 2) // seed + x, no dup
      // divergent replay, dup-first shape: committed t_da plus a NEW
      // destination t_db — the new destination's rows would be silently
      // dropped by a naive first-marker skip; must throw instead
      intercept[IllegalStateException] {
        SqlPubSub.writeEpochPartition(dbUrl, tables, "w-d",
          routedRows("x" -> "t_da", "y" -> "t_db"))
      }
      // divergent replay, fresh-first shape: new destination first,
      // then the already-committed one — must also throw, and the
      // transaction rolls back so t_db stays clean
      intercept[IllegalStateException] {
        SqlPubSub.writeEpochPartition(dbUrl, tables, "w-d",
          routedRows("y" -> "t_db", "x" -> "t_da"))
      }
      assert(ps.subscribeBatch("t_db").count() == 0,
        "divergent replay must roll back, not half-write")
    } finally ps.close()
  }

  test("writerIds ending in the reserved #p<digits> suffix are rejected at the API edge") {
    // the per-partition marker keys are in-band (writerId + "#p<pid>")
    // in the shared graft_epochs keyspace: a caller-supplied "job#p3"
    // reads like writer "job"'s partition-3 marker
    val ps = new SqlPubSub(spark, url("sqlwid"))
    try {
      def frame(us: String*) = us.map(u => msg(u, u)).toDF()
      val e = intercept[IllegalArgumentException] {
        ps.publishEpoch("t_wid", frame("a"), writerId = "job#p3")
      }
      assert(e.getMessage.contains("#p"), e.getMessage)
      val routed = Seq(("r1", "t_wid"))
        .map { case (u, t) => (u, Map.empty[String, String], u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), t) }
        .toDF("uuid", "metadata", "payload", "ts", "_topic")
      intercept[IllegalArgumentException] {
        ps.publishRoutedEpoch(routed, "_topic", writerId = "job#p12")
      }
      // '#p' NOT followed by trailing digits is unambiguous and stays legal
      ps.publishEpoch("t_wid", frame("ok"), writerId = "job#party")
      assert(ps.subscribeBatch("t_wid").count() == 1)
    } finally ps.close()
  }

  test("plain epoch: a replay with different partition contents fails loudly (count guard)") {
    // the partitioning-drift shape: spark.sql.shuffle.partitions changed
    // or AQE toggled across a checkpoint restart, so a replayed
    // partition id carries DIFFERENT rows than its committed attempt —
    // a naive marker skip would silently drop the difference
    val dbUrl = url("sqlediv")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.subscribeInitialize("t_ed")
      ps.publishEpoch("t_ed", Seq(msg("seed", "s")).toDF(), "w-seed") // creates tables
      def rows(topic: String, us: String*) = us.map(u =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), topic)).iterator
      val tbl = "graft_t_t_ed"
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_ed" -> tbl), "w-d", rows("t_ed", "a", "b"))
      // clean replay, same contents: silent skip
      SqlPubSub.writeEpochPartition(dbUrl, Map("t_ed" -> tbl), "w-d", rows("t_ed", "a", "b"))
      assert(ps.subscribeBatch("t_ed").count() == 3) // seed + a + b
      // divergent replay: same partition id, different contents
      val e = intercept[IllegalStateException] {
        SqlPubSub.writeEpochPartition(dbUrl, Map("t_ed" -> tbl), "w-d", rows("t_ed", "a", "b", "c"))
      }
      assert(e.getMessage.contains("diverged"), e.getMessage)
      assert(ps.subscribeBatch("t_ed").count() == 3,
        "divergent replay must write nothing")
    } finally ps.close()
  }

  test("routed epoch: per-destination count and destination-set drift fail loudly") {
    val dbUrl = url("sqlrcnt")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.subscribeInitialize("t_rc")
      ps.subscribeInitialize("t_rc2")
      ps.publishEpoch("t_rc", Seq(msg("seed", "s")).toDF(), "w-seed")
      val tables = Map("t_rc" -> "graft_t_t_rc", "t_rc2" -> "graft_t_t_rc2")
      def routedRows(pairs: (String, String)*) = pairs.map { case (u, t) =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), t)
      }.iterator
      // attempt commits {t_rc: 2 rows, t_rc2: 1 row}
      SqlPubSub.writeEpochPartition(dbUrl, tables, "w-m",
        routedRows("x" -> "t_rc", "y" -> "t_rc", "z" -> "t_rc2"))
      // clean replay: identical shape — silent skip
      SqlPubSub.writeEpochPartition(dbUrl, tables, "w-m",
        routedRows("x" -> "t_rc", "y" -> "t_rc", "z" -> "t_rc2"))
      assert(ps.subscribeBatch("t_rc").count() == 3)  // seed + x + y
      assert(ps.subscribeBatch("t_rc2").count() == 1) // z
      // count drift: t_rc committed 2 rows, replay carries 1
      val e1 = intercept[IllegalStateException] {
        SqlPubSub.writeEpochPartition(dbUrl, tables, "w-m",
          routedRows("x" -> "t_rc", "z" -> "t_rc2"))
      }
      assert(e1.getMessage.contains("committed 2 rows"), e1.getMessage)
      // destination-set drift: committed destination missing from replay
      val e2 = intercept[IllegalStateException] {
        SqlPubSub.writeEpochPartition(dbUrl, tables, "w-m",
          routedRows("x" -> "t_rc", "y" -> "t_rc"))
      }
      assert(e2.getMessage.contains("missing from the replay"), e2.getMessage)
      assert(ps.subscribeBatch("t_rc").count() == 3)
      assert(ps.subscribeBatch("t_rc2").count() == 1)
    } finally ps.close()
  }

  test("epoch dup-replay probe ordering survives PostgreSQL-style transaction abort (fault injection)") {
    // Derby aborts only the failing STATEMENT; PostgreSQL aborts the
    // whole transaction — any statement between the duplicate-key hit
    // and rollback() throws 25P02. The shim enforces the strict
    // semantics, so a misordered probe fails THIS test even though
    // plain Derby tolerates it.
    AbortSimDriver.ensureRegistered()
    val derbyUrl = url("sqlabort")
    val simUrl = AbortSimDriver.Prefix + derbyUrl.substring("jdbc:".length)
    val ps = new SqlPubSub(spark, derbyUrl)
    try {
      ps.subscribeInitialize("t_ab")
      ps.subscribeInitialize("t_ab2")
      ps.publishEpoch("t_ab", Seq(msg("seed", "s")).toDF(), "w-seed") // creates graft_epochs
      def rows(topic: String, us: String*) = us.map(u =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), topic)).iterator
      def routedRows(pairs: (String, String)*) = pairs.map { case (u, t) =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), t)
      }.iterator
      // plain path: fresh attempt, then a dup replay THROUGH THE SHIM —
      // the marker PK hit aborts the transaction; the writer must
      // rollback FIRST, then run its divergence probes
      val plain = Map("t_ab" -> "graft_t_t_ab")
      SqlPubSub.writeEpochPartition(simUrl, plain, "w-a", rows("t_ab", "a", "b"))
      SqlPubSub.writeEpochPartition(simUrl, plain, "w-a", rows("t_ab", "a", "b"))
      assert(ps.subscribeBatch("t_ab").count() == 3) // seed + a + b, no dup
      // routed path: dup-first replay through the shim, multi-destination
      val tables = Map("t_ab" -> "graft_t_t_ab", "t_ab2" -> "graft_t_t_ab2")
      SqlPubSub.writeEpochPartition(simUrl, tables, "w-r",
        routedRows("x" -> "t_ab", "y" -> "t_ab2"))
      SqlPubSub.writeEpochPartition(simUrl, tables, "w-r",
        routedRows("x" -> "t_ab", "y" -> "t_ab2"))
      assert(ps.subscribeBatch("t_ab").count() == 4)  // + x, no dup
      assert(ps.subscribeBatch("t_ab2").count() == 1) // y, no dup
    } finally ps.close()
  }

  test("MySQL-shape duplicates (plain 23000, no abort): epoch replay, routed replay, raced ack, and a re-parked delayed row all skip") {
    // MySQL's driver throws a PLAIN SQLException with the bare class
    // code 23000 — NOT Derby's subclass, NOT PG's 23505 — and InnoDB
    // rolls back only the failing statement (no transaction-level
    // abort). A dup-skip site matching Derby's subclass or PG's
    // literal misclassifies this shape as fatal: a replayed epoch
    // becomes a task-retry storm. This drives the dup-skip sites
    // through the MySQL shim.
    AbortSimDriver.ensureRegistered()
    val derbyUrl = url("sqlmy")
    val simUrl = AbortSimDriver.MysqlPrefix + derbyUrl.substring("jdbc:".length)
    // protocol paths (poller, ack, park, epoch writers) run through the
    // shim; psv reads verification state over the plain URL (Spark's
    // JDBC reader resolves registered drivers by URL prefix — keep the
    // shim off the read path, like the PG rows do)
    val ps = new SqlPubSub(spark, simUrl, pollIntervalMs = 20)
    val psv = new SqlPubSub(spark, derbyUrl, group = "verify")
    try {
      ps.subscribeInitialize("t_my")
      ps.subscribeInitialize("t_my2")
      ps.publishEpoch("t_my", Seq(msg("seed", "s")).toDF(), "w-seed")
      def rows(topic: String, us: String*) = us.map(u =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), topic)).iterator
      def routedRows(pairs: (String, String)*) = pairs.map { case (u, t) =>
        org.apache.spark.sql.Row(u, null, u.getBytes("UTF-8"),
          new Timestamp(1700000000000L), t)
      }.iterator
      // site 1: plain epoch marker replay
      val plain = Map("t_my" -> "graft_t_t_my")
      SqlPubSub.writeEpochPartition(simUrl, plain, "w-a", rows("t_my", "a", "b"))
      SqlPubSub.writeEpochPartition(simUrl, plain, "w-a", rows("t_my", "a", "b"))
      assert(psv.subscribeBatch("t_my").count() == 3) // seed + a + b, no dup
      // site 2: routed epoch replay, multi-destination
      val tables = Map("t_my" -> "graft_t_t_my", "t_my2" -> "graft_t_t_my2")
      SqlPubSub.writeEpochPartition(simUrl, tables, "w-r",
        routedRows("x" -> "t_my", "y" -> "t_my2"))
      SqlPubSub.writeEpochPartition(simUrl, tables, "w-r",
        routedRows("x" -> "t_my", "y" -> "t_my2"))
      assert(psv.subscribeBatch("t_my").count() == 4)  // + x, no dup
      assert(psv.subscribeBatch("t_my2").count() == 1) // y, no dup
      // site 3: raced offset insert — an ack BELOW the stored offset
      // takes storeOffset's INSERT branch onto the existing PK (the
      // monotonic-guard UPDATE matched 0 rows); the 23000 dup must
      // classify as raced and the re-run guarded update must no-op
      ps.ack("t_my", 3)
      ps.ack("t_my", 1) // dup-skip, then monotonic no-op
      // site 4: delayed re-park — the park INSERT hits a pre-existing
      // (grp, topic, offset) row (the crash-between-park-and-offset-
      // store replay) in MySQL's shape; the poller must skip it and
      // keep delivering, not wedge
      val due = java.time.Instant.ofEpochMilli(
        System.currentTimeMillis() + 3600000).toString
      ps.publish("t_my", Seq(
        msg("d1", "delayed", Map(graft.router.Ctx.DelayedUntil -> due))))
      val c = java.sql.DriverManager.getConnection(derbyUrl)
      try {
        val q0 = c.createStatement()
        val off = try {
          val rs = q0.executeQuery(
            """SELECT "offset_id" FROM "graft_t_t_my" WHERE "uuid" = 'd1'""")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } finally q0.close()
        val ins = c.prepareStatement(
          """INSERT INTO "graft_delayed" ("grp", "topic", "offset_id", "due_at")
            |VALUES ('default', 't_my', ?, ?)""".stripMargin)
        try {
          ins.setLong(1, off)
          ins.setTimestamp(2, new Timestamp(System.currentTimeMillis() + 3600000))
          ins.executeUpdate(); ()
        } finally ins.close()
      } finally c.close()
      ps.publish("t_my", Seq(msg("after", "after-delayed")))
      val stream = ps.subscribe("t_my")
      ps.awaitCaughtUp("t_my", timeoutMs = 10000)
      val q = stream.writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqlmy-").toString)
        .format("memory").queryName("sql_mysql_mode_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("sql_mysql_mode_out").collect()
          .map(_.getAs[String]("uuid")).toSet
        assert(got.contains("after"),
          s"poller wedged on the re-parked dup under MySQL shape: $got")
        assert(!got.contains("d1"), s"parked row leaked into delivery: $got")
      } finally q.stop()
    } finally { ps.close(); psv.close() }
  }

  test("driver-side publish retries a transaction rollback without leaving or duplicating rows") {
    // parallel first inserts into a fresh Derby table can fail with
    // 40XL1 (identity-generator contention); the shim injects that
    // error AFTER the batch ran, under both engine shapes — the retry
    // must roll the first attempt back, then commit every row once
    AbortSimDriver.ensureRegistered()
    val db = url("sqlretry")
    val psv = new SqlPubSub(spark, db, group = "verify")
    try Seq(AbortSimDriver.Prefix, AbortSimDriver.MysqlPrefix).zipWithIndex.foreach {
      case (prefix, i) =>
        val ps = new SqlPubSub(spark, prefix + db.substring("jdbc:".length))
        try {
          ps.subscribeInitialize(s"t_rt$i")
          AbortSimDriver.failNextBatch.set(true)
          ps.publish(s"t_rt$i", Seq(msg("a", "a"), msg("b", "b")))
          assert(!AbortSimDriver.failNextBatch.get, "the injected rollback fired")
          val got = psv.subscribeBatch(s"t_rt$i").collect()
            .map(_.getAs[String]("uuid")).toSeq.sorted
          assert(got == Seq("a", "b"), s"$prefix: rows lost or duplicated: $got")
        } finally ps.close()
    } finally psv.close()
  }

  test("automatic marker sweep bounds graft_epochs while replay inside the horizon still dedupes") {
    val dbUrl = url("sqlsweep")
    // sweep on every publish; markers older than 2s prune
    val ps = new SqlPubSub(spark, dbUrl,
      epochRetentionMs = 2000, epochSweepIntervalMs = 0)
    try {
      def frame(u: String) = Seq(msg(u, u)).toDF()
      def markerCount(): Int = {
        val c = java.sql.DriverManager.getConnection(dbUrl)
        try {
          val st = c.createStatement()
          try {
            val rs = st.executeQuery("""SELECT COUNT(*) FROM "graft_epochs"""")
            try { rs.next(); rs.getInt(1) } finally rs.close()
          } finally st.close()
        } finally c.close()
      }
      // a long-running router's micro-batches: distinct writer ids
      (0 until 6).foreach(i => ps.publishEpoch("t_sw", frame(s"m$i"), s"w-$i"))
      // replay INSIDE the horizon (the marker is fresh): still dedupes
      ps.publishEpoch("t_sw", frame("m5"), "w-5")
      assert(ps.subscribeBatch("t_sw").count() == 6, "in-horizon replay duplicated")
      Thread.sleep(2300) // age every marker past the retention horizon
      ps.publishEpoch("t_sw", frame("m6"), "w-6") // publish triggers the sweep
      val after = markerCount()
      assert(after <= 2, s"marker table unbounded after sweep: $after rows")
      assert(ps.subscribeBatch("t_sw").count() == 7)
    } finally ps.close()
  }

  test("a failing marker sweep logs and defers — it never fails the publish it piggybacks on") {
    val dbUrl = url("sqlsweepfail")
    // sweep attempts on every publish
    val ps = new SqlPubSub(spark, dbUrl,
      epochRetentionMs = 1, epochSweepIntervalMs = 0)
    try {
      def frame(u: String) = Seq(msg(u, u)).toDF()
      ps.publishEpoch("t_swf", frame("m0"), "w-0") // creates graft_epochs
      // break the sweep's DELETE out from under it: housekeeping must
      // not escalate its own failure into a data-path publish failure
      val c = java.sql.DriverManager.getConnection(dbUrl)
      try {
        val st = c.createStatement()
        try st.executeUpdate("""ALTER TABLE "graft_epochs" DROP COLUMN "created_at"""")
        finally st.close()
      } finally c.close()
      ps.publishEpoch("t_swf", frame("m1"), "w-1") // sweep fails inside; publish survives
      assert(ps.subscribeBatch("t_swf").count() == 2,
        "publish lost rows when the piggybacked sweep failed")
      // the EXPLICIT housekeeping API still surfaces the failure
      intercept[java.sql.SQLException](ps.pruneEpochs(1))
    } finally ps.close()
  }

  test("pruneConsumed deletes only below the min group ack, never parked or in-horizon rows") {
    val dbUrl = url("sqlpruneco")
    val ps = new SqlPubSub(spark, dbUrl) // group "default"
    val ps2 = new SqlPubSub(spark, dbUrl, group = "g2")
    try {
      ps.subscribeInitialize("t_pc")
      ps.publish("t_pc", (1 to 6).map(i => msg(s"m$i", s"m$i"))) // offsets 1..6
      // no group has a durable offset yet: nothing may be deleted
      assert(ps.pruneConsumed("t_pc") == 0, "pruned an unconsumed topic")
      ps.ack("t_pc", 5)
      ps2.ack("t_pc", 3) // g2 pins the min at 3
      // park offset 2 for g2 (direct insert pins the exclusion rule —
      // the release transaction re-reads the source row, so a parked
      // offset must survive any prune)
      val c = java.sql.DriverManager.getConnection(dbUrl)
      try {
        val st = c.prepareStatement(
          """INSERT INTO "graft_delayed" ("grp", "topic", "offset_id", "due_at")
            |VALUES ('g2', 't_pc', 2, ?)""".stripMargin)
        try { st.setTimestamp(1, new Timestamp(System.currentTimeMillis() + 3600000)); st.executeUpdate() }
        finally st.close()
      } finally c.close()
      // in-horizon rows survive: message ts is 2023-11, a ~5-year
      // horizon keeps everything
      assert(ps.pruneConsumed("t_pc", olderThanMs = 5L * 365 * 24 * 3600 * 1000) == 0,
        "horizon did not protect in-window rows")
      // past the horizon: offsets 1 and 3 go (<= min ack 3, not parked);
      // batchSize = 1 drives the range loop one offset at a time
      assert(ps.pruneConsumed("t_pc", batchSize = 1) == 2)
      assert(ps.subscribeBatch("t_pc").count() == 4) // 2 (parked), 4, 5, 6
      // dropGroup removes the abandoned group's pin AND its parked row
      ps.dropGroup("g2", "t_pc")
      assert(ps.pruneConsumed("t_pc") == 3) // 2, 4, 5 (min now default's 5)
      assert(ps.subscribeBatch("t_pc").count() == 1) // offset 6
    } finally { ps.close(); ps2.close() }
  }

  test("pruneConsumed under a LIVE poller: no loss, no redelivery, stream continues") {
    val dbUrl = url("sqlprunelive")
    val ps = new SqlPubSub(spark, dbUrl, group = "gl", pollIntervalMs = 20)
    try {
      ps.publish("t_pl", (1 to 4).map(i => msg(s"p$i", s"p$i")))
      val stream = ps.subscribe("t_pl") // live poller for group gl
      ps.awaitCaughtUp("t_pl")
      ps.ack("t_pl", 3) // downstream committed through offset 3
      // prune while the poller is live: deletes offsets 1..3 (acked);
      // the poller's position is already past them
      assert(ps.pruneConsumed("t_pl") == 3)
      ps.publish("t_pl", Seq(msg("p5", "p5")))
      ps.awaitCaughtUp("t_pl", timeoutMs = 5000)
      val q = stream.writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqlpl-").toString)
        .format("memory").queryName("sql_prune_live_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("sql_prune_live_out").collect()
          .map(_.getAs[String]("uuid")).toSeq.sorted
        // everything enqueued once, nothing twice: the pre-prune rows
        // were enqueued before the prune, p5 flows after it
        assert(got == Seq("p1", "p2", "p3", "p4", "p5"),
          s"live poller lost or duplicated rows across the prune: $got")
      } finally q.stop()
      // the replay/audit view shows surviving history only
      assert(ps.subscribeBatch("t_pl").count() == 2) // offsets 4 and 5
    } finally ps.close()
  }

  test("pruneConsumed sweeps dead released markers, keeps live ones and the backfill sentinel") {
    // the transport writes no sentinel row any more, so the live
    // marker is the only one that must survive
    val dbUrl = url("sqlprunerel")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.subscribeInitialize("t_rm")
      ps.publish("t_rm", (1 to 3).map(i => msg(s"r$i", s"r$i"))) // offsets 1..3
      ps.ack("t_rm", 2)
      val c = java.sql.DriverManager.getConnection(dbUrl)
      def markers(): Set[Long] = {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            """SELECT "offset_id" FROM "graft_released" WHERE "topic" = 't_rm'""")
          try {
            val b = Set.newBuilder[Long]
            while (rs.next()) b += rs.getLong(1)
            b.result()
          } finally rs.close()
        } finally st.close()
      }
      try {
        val st = c.prepareStatement(
          """INSERT INTO "graft_released" ("topic", "offset_id", "grp")
            |VALUES ('t_rm', ?, 'x')""".stripMargin)
        try {
          st.setLong(1, 1L); st.executeUpdate() // marker whose record will prune
          st.setLong(1, 3L); st.executeUpdate() // marker on a SURVIVING record
        } finally st.close()
        assert(ps.pruneConsumed("t_rm") == 2) // offsets 1 and 2
        // dead marker swept; the live marker stays — dropping it would
        // expose a private redelivery to every group
        assert(markers() == Set(3L), s"got ${markers()}")
      } finally c.close()
    } finally ps.close()
  }

  test("pruneConsumed rejects a negative horizon loudly") {
    val ps = new SqlPubSub(spark, url("sqlprneg"))
    try {
      ps.publish("t_ng", Seq(msg("n1", "n1")))
      ps.ack("t_ng", 1)
      // a negative horizon flips the TIMESTAMPADD cutoff into the
      // FUTURE, silently widening the sweep to future-event-time rows
      // (still full-ack-safe, but never what the caller meant)
      intercept[IllegalArgumentException](
        ps.pruneConsumed("t_ng", olderThanMs = -1))
      assert(ps.subscribeBatch("t_ng").count() == 1)
    } finally ps.close()
  }

  test("a no-op prune still sweeps crash-orphaned released markers") {
    val dbUrl = url("sqlorph")
    val ps = new SqlPubSub(spark, dbUrl)
    try {
      ps.subscribeInitialize("t_or")
      ps.publish("t_or", Seq(msg("a", "a"), msg("b", "b")))
      ps.ack("t_or", 2)
      assert(ps.pruneConsumed("t_or") == 2)
      // simulate a crash BETWEEN a prune's record deletes and its
      // marker sweep: a marker whose record is already gone
      val c = java.sql.DriverManager.getConnection(dbUrl)
      try {
        val ins = c.prepareStatement(
          """INSERT INTO "graft_released" ("topic", "offset_id", "grp")
            |VALUES ('t_or', 1, 'x')""".stripMargin)
        try { ins.executeUpdate(); () } finally ins.close()
        // nothing left to delete (n = 0) — the orphan must still sweep
        assert(ps.pruneConsumed("t_or") == 0)
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            """SELECT "offset_id" FROM "graft_released" WHERE "topic" = 't_or'""")
          val got = try {
            val b = Set.newBuilder[Long]
            while (rs.next()) b += rs.getLong(1)
            b.result()
          } finally rs.close()
          assert(got == Set.empty[Long],
            s"orphaned marker survived a no-op prune: $got")
        } finally st.close()
      } finally c.close()
    } finally ps.close()
  }

  test("automatic consumed-record retention bounds the topic table under a live router; in-horizon and default-off stay intact") {
    val dbUrl = url("sqlautopr")
    // opt-in retention, sweep attempted on every ack; the fixed message
    // ts (2023-11) is far past the 1s horizon, so fully-acked rows
    // qualify immediately
    val ps = new SqlPubSub(spark, dbUrl, group = "ga", pollIntervalMs = 20,
      consumedRetentionMs = 1000, consumedSweepIntervalMs = 0)
    try {
      ps.publish("t_ap", (1 to 3).map(i => msg(s"m1_$i", s"m1_$i")))
      val stream = ps.subscribe("t_ap")
      val q = stream.writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqlap-").toString)
        .format("memory").queryName("sql_auto_prune_out").start()
      try {
        var off = 0L
        (1 to 5).foreach { b =>
          if (b > 1)
            ps.publish("t_ap", (1 to 3).map(i => msg(s"m${b}_$i", s"m${b}_$i")))
          off += 3
          ps.awaitCaughtUp("t_ap", timeoutMs = 10000)
          ps.ack("t_ap", off) // downstream committed; the ack sweeps
          // bounded: every fully-acked past-horizon row is gone — a
          // silently-failing sweep (it only logs) would fail this
          assert(ps.subscribeBatch("t_ap").count() == 0,
            s"topic table unbounded after micro-batch $b")
        }
        q.processAllAvailable()
        val got = spark.table("sql_auto_prune_out").collect()
          .map(_.getAs[String]("uuid")).toSeq.sorted
        val want = (1 to 5).flatMap(b => (1 to 3).map(i => s"m${b}_$i"))
          .sorted
        assert(got == want,
          s"live poller lost or duplicated rows across automatic prunes: $got")
      } finally q.stop()
      // in-horizon: a retention wider than the data's age deletes
      // nothing — replay/audit reads keep their window
      val psH = new SqlPubSub(spark, dbUrl, group = "gh",
        consumedRetentionMs = 10L * 365 * 24 * 3600 * 1000,
        consumedSweepIntervalMs = 0)
      try {
        psH.publish("t_hz", Seq(msg("h1", "h1"), msg("h2", "h2")))
        psH.ack("t_hz", 2)
        assert(psH.subscribeBatch("t_hz").count() == 2,
          "in-horizon rows were pruned by the automatic sweep")
      } finally psH.close()
      // default instance: retention off — records are user data, the
      // operator opts in; an ack must never delete
      val psD = new SqlPubSub(spark, dbUrl, group = "gd")
      try {
        psD.publish("t_def", Seq(msg("d1", "d1")))
        psD.ack("t_def", 1)
        assert(psD.subscribeBatch("t_def").count() == 1,
          "default-off retention deleted records")
      } finally psD.close()
    } finally ps.close()
  }

  test("subscribeBatch reads in parallel ranges over the offset column") {
    val ps = new SqlPubSub(spark, url("sqlpar"))
    try {
      ps.publish("t_par", (0 until 64).map(i => msg(s"p$i", s"x$i")))
      val df = ps.subscribeBatch("t_par")
      assert(df.rdd.getNumPartitions > 1,
        s"expected a ranged parallel read, got ${df.rdd.getNumPartitions} partition(s)")
      assert(df.count() == 64)
    } finally ps.close()
  }

  test("pruneEpochs bounds the marker table; retention window still dedupes") {
    val ps = new SqlPubSub(spark, url("sqlprune"))
    try {
      def frame(us: String*) = us.map(u => msg(u, u)).toDF()
      ps.publishEpoch("t_pr", frame("a"), writerId = "w-0")
      // young markers survive a long-retention prune and still dedupe
      assert(ps.pruneEpochs(olderThanMs = 3600000L) == 0)
      ps.publishEpoch("t_pr", frame("a"), writerId = "w-0")
      assert(ps.subscribeBatch("t_pr").count() == 1)
      // a negative horizon prunes everything (cutoff in the future):
      // past the retention window, the retry degrades to at-least-once
      assert(ps.pruneEpochs(olderThanMs = -60000L) == 1)
      ps.publishEpoch("t_pr", frame("a"), writerId = "w-0")
      assert(ps.subscribeBatch("t_pr").count() == 2)
    } finally ps.close()
  }

  test("poller survives a transient DB failure: logs, backs off, resumes") {
    val db = url("sqlheal")
    val cap = new graft.core.CaptureLogger
    val ps = new SqlPubSub(spark, db, group = "gh", pollIntervalMs = 20, log = cap)
    try {
      ps.publish("t_heal", Seq(msg("h1", "one")))
      val stream = ps.subscribe("t_heal") // starts the poller
      ps.awaitCaughtUp("t_heal")

      // transient failure: drop the topic table out from under the
      // poller — pollOnce throws SQLException (table not found), which
      // previously killed the daemon thread forever
      val c = java.sql.DriverManager.getConnection(db)
      try { val st = c.createStatement()
        try st.executeUpdate("DROP TABLE \"graft_t_t_heal\"") finally st.close()
      } finally c.close()
      val deadline = System.currentTimeMillis() + 5000
      while (!cap.entries.exists(_.level == "error") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(cap.entries.exists(_.level == "error"),
        "poller must log the failure instead of dying silently")

      // recovery: recreate the table and publish — the poller must
      // reconnect and deliver. The recreated identity column restarts
      // at 1 while the stored offset is already 1, so the first
      // re-published row is shadowed (offset reuse after a destructive
      // DDL is out of contract); the second row (offset 2) must flow.
      ps.subscribeInitialize("t_heal")
      ps.publish("t_heal", Seq(msg("h2", "two"), msg("h3", "three")))
      ps.awaitCaughtUp("t_heal", timeoutMs = 5000)
      val q = stream.writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqlh-").toString)
        .format("memory").queryName("sql_heal_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("sql_heal_out").collect().map(_.getAs[String]("uuid")).toSet
        assert(got.contains("h3"), s"poller must resume delivery after recovery, got $got")
      } finally q.stop()
    } finally ps.close()
  }

  test("transport hides delayed rows until due; later rows are not blocked") {
    val ps = new SqlPubSub(spark, url("sqldelay"), group = "gd", pollIntervalMs = 20)
    try {
      val due = java.time.Instant.now().plusMillis(1500)
      ps.publish("t_delay", Seq(
        msg("d1", "now"),
        msg("d2", "later", Map(graft.router.Ctx.DelayedUntil -> due.toString,
          graft.router.Ctx.DelayedFor -> "1500ms")),
        msg("d3", "also-now")))
      val seen = scala.collection.concurrent.TrieMap.empty[String, Boolean]
      val q = ps.subscribe("t_delay").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqld-").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen(r.getAs[String]("uuid")) = true); ()
        }.start()
      try {
        ps.awaitCaughtUp("t_delay"); q.processAllAvailable()
        // the delayed row is HIDDEN; rows after it flow (no head-of-line block)
        assert(seen.keySet == Set("d1", "d3"),
          s"delayed row must be invisible until due, got ${seen.keySet}")
        // once due, the poller releases it
        val deadline = System.currentTimeMillis() + 8000
        while (!seen.contains("d2") && System.currentTimeMillis() < deadline) {
          Thread.sleep(50); q.processAllAvailable()
        }
        assert(seen.keySet == Set("d1", "d2", "d3"),
          s"delayed row must be delivered after its due time, got ${seen.keySet}")
      } finally q.stop()
    } finally ps.close()
  }

  test("a foreign _graft_delay_grp stamp cannot hide a row from pollers or replay") {
    // the topic table is an open surface: row visibility (which
    // offsets are a group's private released copy) is decided by the
    // engine-owned graft_released table, written only by releaseDue's
    // transaction. Before r14 it was decided by the metadata stamp —
    // a foreign writer stamping its own inserts could hide them from
    // every consumer group's poller AND from the replay/audit view
    // (the exact trust inversion the ingress sanitization exists to
    // block, on the read side).
    val ps = new SqlPubSub(spark, url("sqlhide"), group = "gh",
      pollIntervalMs = 20)
    try {
      ps.publish("t_hide", Seq(
        msg("h1", "normal"),
        // foreign writer's insert, stamped with ANOTHER group's name…
        msg("h2", "stamped-other", Map(graft.router.Ctx.DelayGroup -> "zz")),
        // …and with THIS group's name (the all-but-one-group variant)
        msg("h3", "stamped-own", Map(graft.router.Ctx.DelayGroup -> "gh"))))
      // replay/audit view: all three rows visible (no graft_released
      // record exists for any of them)
      val replay = ps.subscribeBatch("t_hide").as[Message].collect()
        .map(_.uuid).toSet
      assert(replay == Set("h1", "h2", "h3"),
        s"a metadata stamp must not hide rows from replay, got $replay")
      // poller: all three delivered (and the foreign stamp itself is
      // sanitized off before the handler sees it)
      val seen = scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]
      val q = ps.subscribe("t_hide").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqlh-").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.as[Message].collect().foreach(m => seen(m.uuid) = m.metadata); ()
        }.start()
      try {
        ps.awaitCaughtUp("t_hide"); q.processAllAvailable()
        assert(seen.keySet == Set("h1", "h2", "h3"),
          s"a metadata stamp must not hide rows from the poller, got ${seen.keySet}")
        assert(!seen("h2").contains(graft.router.Ctx.DelayGroup) &&
          !seen("h3").contains(graft.router.Ctx.DelayGroup),
          "the foreign stamp must be sanitized off before delivery")
      } finally q.stop()
    } finally ps.close()
  }

  test("released delayed row survives a crash between release and consumer commit") {
    // the last at-most-once corner, now closed: a due delayed row is
    // re-published as a NEW offset (same txn as the park-row delete),
    // so the ack-advances-offset protocol covers it. Old behavior:
    // release side-door-enqueued under the ORIGINAL offset — already
    // behind the ack mark once later mainline rows were acked — and a
    // crash before the consumer's commit lost the row permanently.
    val db = url("sqldrel")
    val due = java.time.Instant.now().plusMillis(5000)

    // incarnation A: consume the mainline rows, acking PAST the
    // delayed row's original offset (offsets: r1=1, r2=2, r3=3; ack=3)
    val sinkA = new MemoryPubSub(spark)
    val psA = new SqlPubSub(spark, db, group = "gr", pollIntervalMs = 20)
    try {
      psA.publish("t_drel", Seq(
        msg("r1", "one"),
        msg("r2", "two", Map(graft.router.Ctx.DelayedUntil -> due.toString)),
        msg("r3", "three")))
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqldrel-a-").toString))
      r.addHandler("a", "t_drel", psA, "t_drel_out", sinkA,
        Middlewares.passthrough)
      r.run(); psA.awaitCaughtUp("t_drel"); r.processAllAvailable(); r.close()
      assert(sinkA.subscribeBatch("t_drel_out").collect()
        .map(_.getAs[String]("uuid")).toSet == Set("r1", "r3"))
    } finally psA.close()

    // incarnation B: poller releases the due row (re-publish + unpark
    // commit), then "crashes" before any consumer commits it
    def delayedCount(): Long = {
      val c = java.sql.DriverManager.getConnection(db)
      try {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(
            "SELECT COUNT(*) FROM \"graft_delayed\" WHERE \"grp\" = 'gr'")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } finally st.close()
      } finally c.close()
    }
    assert(delayedCount() == 1, "row must be parked while not yet due")
    val psB = new SqlPubSub(spark, db, group = "gr", pollIntervalMs = 20)
    try {
      psB.subscribe("t_drel") // starts the poller; nobody consumes
      val deadline = System.currentTimeMillis() + 15000
      while (delayedCount() > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(delayedCount() == 0, "due row was never released")
    } finally psB.close() // crash: released, never committed downstream

    // incarnation C: a fresh same-group instance MUST redeliver the
    // released row (its re-published offset is past the ack mark) —
    // exactly once, sanitized of internal keys
    val sinkC = new MemoryPubSub(spark)
    val psC = new SqlPubSub(spark, db, group = "gr", pollIntervalMs = 20)
    try {
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqldrel-c-").toString))
      r.addHandler("c", "t_drel", psC, "t_drel_out_c", sinkC,
        Middlewares.passthrough)
      r.run(); psC.awaitCaughtUp("t_drel"); r.processAllAvailable(); r.close()
      val got = sinkC.subscribeBatch("t_drel_out_c").collect()
      assert(got.map(_.getAs[String]("uuid")).toSeq == Seq("r2"),
        s"released row must redeliver exactly once, got ${got.map(_.getAs[String]("uuid")).toSeq}")
      val meta = Option(got(0).getAs[Map[String, String]]("metadata")).getOrElse(Map.empty)
      assert(!meta.keys.exists(_.startsWith("_graft_")),
        s"internal keys leaked through the release path: $meta")
      assert(meta.contains(graft.router.Ctx.DelayedUntil),
        "transported delay metadata must survive the release")
    } finally psC.close()

    // replay view: each logical message once — the group-private
    // released copy is hidden, the original delayed row shows
    val psR = new SqlPubSub(spark, db)
    try {
      val replay = psR.subscribeBatch("t_drel").collect().map(_.getAs[String]("uuid"))
      assert(replay.length == 3 && replay.toSet == Set("r1", "r2", "r3"),
        s"replay must show each message once, got ${replay.toSeq}")
    } finally psR.close()
  }

  test("DB-ahead clock skew cannot loop the release: the copy is never re-parked") {
    // releaseDue judges due-ness by the DB clock; pollOnce's park
    // check uses the JVM clock. With the DB ahead, a released copy
    // still carrying its (JVM-future) delayed_until would be
    // re-parked and re-released every tick — appending one junk row
    // per poll interval until the clocks agree. The rule: one release
    // decision per row, made by one clock — a group-own copy is
    // always delivered ready.
    val db = url("sqlskew")
    val ps = new SqlPubSub(spark, db, group = "gs", pollIntervalMs = 20)
    def count(sql: String): Long = {
      val c = java.sql.DriverManager.getConnection(db)
      try {
        val st = c.createStatement()
        try { val rs = st.executeQuery(sql)
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } finally st.close()
      } finally c.close()
    }
    try {
      val due = java.time.Instant.now().plusSeconds(3600) // JVM-future
      ps.publish("t_skew", Seq(
        msg("s1", "x", Map(graft.router.Ctx.DelayedUntil -> due.toString))))
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = ps.subscribe("t_skew").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sqlskew-").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getAs[String]("uuid"))); ()
        }.start()
      try {
        ps.awaitCaughtUp("t_skew"); q.processAllAvailable()
        assert(count("SELECT COUNT(*) FROM \"graft_delayed\"") == 1,
          "row must be parked while the JVM clock says not-due")
        // simulate the DB clock running ahead: the park row becomes
        // due by DB time while delayed_until stays in the JVM future
        val c = java.sql.DriverManager.getConnection(db)
        try {
          val st = c.createStatement()
          try st.executeUpdate(
            "UPDATE \"graft_delayed\" SET \"due_at\" = TIMESTAMP('2020-01-01 00:00:00')")
          finally st.close()
        } finally c.close()
        val deadline = System.currentTimeMillis() + 10000
        while (seen.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(50); q.processAllAvailable()
        }
        assert(seen.size == 1 && seen.peek() == "s1",
          s"released copy must deliver exactly once, got $seen")
        // several more poll ticks: a release loop would keep appending
        Thread.sleep(400); q.processAllAvailable()
        assert(count("SELECT COUNT(*) FROM \"graft_t_t_skew\"") == 2,
          "release loop: junk copies appended to the topic table")
        assert(count("SELECT COUNT(*) FROM \"graft_delayed\"") == 0,
          "copy was re-parked")
        assert(seen.size == 1, s"copy redelivered in-process: $seen")
      } finally q.stop()
    } finally ps.close()
  }

  test("a malformed ack stamp degrades to no-ack (redelivery), never a wedge") {
    // a handler copying garbage into metadata[_graft_ack_offset] must
    // not THROW in the sink's ANSI cast — that would fail the batch
    // forever. It degrades to no-ack: the rows redeliver to a fresh
    // instance, the at-least-once direction.
    val db = url("sqlbadack")
    val sink = new MemoryPubSub(spark)
    val ps1 = new SqlPubSub(spark, db, group = "gb")
    try {
      ps1.publish("t_bad", Seq(msg("b1", "x"), msg("b2", "y")))
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlbad-").toString))
      r.addHandler("garble", "t_bad", ps1, "t_bad_out", sink,
        m => Seq(m.withMeta(graft.router.Ctx.AckOffset, "not-a-number")))
      r.run(); ps1.awaitCaughtUp("t_bad"); r.processAllAvailable(); r.close()
      assert(sink.subscribeBatch("t_bad_out").count() == 2,
        "batch must still commit with a malformed stamp")
    } finally ps1.close()
    // no durable ack happened -> a fresh instance redelivers
    val ps2 = new SqlPubSub(spark, db, group = "gb")
    try {
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlbad2-").toString))
      r.addHandler("check", "t_bad", ps2, "t_bad_out2", sink,
        Middlewares.passthrough)
      r.run(); ps2.awaitCaughtUp("t_bad"); r.processAllAvailable(); r.close()
      assert(sink.subscribeBatch("t_bad_out2").count() == 2,
        "malformed stamps must mean no-ack (redelivery), not a silent ack")
    } finally ps2.close()
  }

  test("durable offsets advance on consumer ACK, not on enqueue") {
    // the at-enqueue ack was a silent-loss class: a batch enqueued into
    // the in-process broker but never successfully processed (process
    // crash, permanently failing sink) was skipped forever by the next
    // instance. Protocol now: poller stamps metadata[Ctx.AckOffset],
    // the router sink acks after its downstream commit.
    val db = url("sqlack")
    val n = 6

    // phase 1: a subscriber that only FAILS consumes nothing durably
    val ps1 = new SqlPubSub(spark, db, group = "ga")
    try {
      ps1.publish("t_ack", (0 until n).map(i => msg(s"a$i", s"p$i")))
      val deadPub = new Publisher {
        override def publish(t: String, m: Seq[Message]): Unit = ()
        override def publishBatch(t: String, df: org.apache.spark.sql.DataFrame): Unit =
          throw new RuntimeException("never acks")
      }
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlack-dead-").toString))
      r.addHandler("dead", "t_ack", ps1, "t_ack_out", deadPub,
        Middlewares.passthrough)
      r.run()
      intercept[Exception] { ps1.awaitCaughtUp("t_ack"); r.processAllAvailable() }
      r.close()
    } finally ps1.close()

    // phase 2: a FRESH same-group instance redelivers everything (no
    // durable ack happened), a healthy router consumes and ACKS
    val sink = new MemoryPubSub(spark)
    val ps2 = new SqlPubSub(spark, db, group = "ga")
    try {
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlack-ok-").toString))
      r.addHandler("ok", "t_ack", ps2, "t_ack_out", sink,
        Middlewares.passthrough)
      r.run(); ps2.awaitCaughtUp("t_ack"); r.processAllAvailable(); r.close()
      val got = sink.subscribeBatch("t_ack_out").collect()
        .map(_.getAs[String]("uuid")).toSet
      assert(got == (0 until n).map(i => s"a$i").toSet,
        s"failed-subscriber enqueues must redeliver: missing ${(0 until n).map(i => s"a$i").toSet -- got}")
      // the ack stamp is engine-internal and must NOT leave the router
      val metas = sink.subscribeBatch("t_ack_out").collect()
        .map(r0 => Option(r0.getAs[Map[String, String]]("metadata")).getOrElse(Map.empty))
      assert(metas.forall(m => !m.keys.exists(_.startsWith("_graft_"))),
        s"internal keys leaked: ${metas.find(_.keys.exists(_.startsWith("_graft_")))}")
    } finally ps2.close()

    // phase 3: the ack is durable — a THIRD instance redelivers nothing
    val ps3 = new SqlPubSub(spark, db, group = "ga")
    try {
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlack-3-").toString))
      r.addHandler("third", "t_ack", ps3, "t_ack_out3", sink,
        Middlewares.passthrough)
      r.run(); ps3.awaitCaughtUp("t_ack"); r.processAllAvailable(); r.close()
      assert(sink.subscribeBatch("t_ack_out3").count() == 0,
        "acked rows redelivered to a fresh instance")
    } finally ps3.close()
  }

  test("consumer (no-publish) handlers ack too") {
    // the consumed message passes through the sink as an ack carrier
    // (published nowhere); without it a consumer handler would never
    // advance the durable offset
    val db = url("sqlcack")
    val n = 5
    val ps1 = new SqlPubSub(spark, db, group = "gc")
    try {
      ps1.publish("t_cack", (0 until n).map(i => msg(s"c$i", "x")))
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlcack-").toString))
      r.addConsumerHandler("eat", "t_cack", ps1,
        m => SqlAckProbe.seen.add(m.uuid))
      r.run(); ps1.awaitCaughtUp("t_cack"); r.processAllAvailable(); r.close()
      assert(SqlAckProbe.seen.size == n)
    } finally ps1.close()
    val ps2 = new SqlPubSub(spark, db, group = "gc")
    val sink = new MemoryPubSub(spark)
    try {
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqlcack2-").toString))
      r.addHandler("check", "t_cack", ps2, "t_cack_out", sink,
        Middlewares.passthrough)
      r.run(); ps2.awaitCaughtUp("t_cack"); r.processAllAvailable(); r.close()
      assert(sink.subscribeBatch("t_cack_out").count() == 0,
        "consumer-handler progress was not durably acked")
    } finally ps2.close()
  }

  test("a DECORATED sql subscriber still acks (capability delegation)") {
    // Decorators.subscriber must preserve AckableSubscriber — without
    // the delegation a decorated transport never advances its durable
    // offsets and every fresh instance redelivers everything
    val db = url("sqldec")
    val ps1 = new SqlPubSub(spark, db, group = "gd")
    val sink = new MemoryPubSub(spark)
    try {
      ps1.publish("t_dec", (0 until 4).map(i => msg(s"d$i", "x")))
      val decorated = Decorators.subscriber(ps1, df => df)
      assert(decorated.isInstanceOf[AckableSubscriber],
        "decoration dropped the ack capability")
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqldec-").toString))
      r.addHandler("dec", "t_dec", decorated, "t_dec_out", sink,
        Middlewares.passthrough)
      r.run(); ps1.awaitCaughtUp("t_dec"); r.processAllAvailable(); r.close()
      assert(sink.subscribeBatch("t_dec_out").count() == 4)
    } finally ps1.close()
    val ps2 = new SqlPubSub(spark, db, group = "gd")
    try {
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("sqldec2-").toString))
      r.addHandler("dec2", "t_dec", ps2, "t_dec_out2", sink,
        Middlewares.passthrough)
      r.run(); ps2.awaitCaughtUp("t_dec"); r.processAllAvailable(); r.close()
      assert(sink.subscribeBatch("t_dec_out2").count() == 0,
        "decorated consumption was not durably acked")
    } finally ps2.close()
  }

  test("ack protocol chaos: random failures + restarts never lose or duplicate") {
    // randomized lifecycle over the consumer-ack protocol: publish in
    // waves, interleave router incarnations whose sink fails a random
    // prefix of attempts, restart on fresh instances/checkpoints each
    // time. Invariant: once a final healthy incarnation drains, the
    // sink holds EXACTLY the published set — no loss from premature
    // acks, no duplicates surviving epoch dedup + offset resume.
    val rnd = new scala.util.Random(42)
    (0 until 2).foreach { trial =>
      val db = url(s"sqlchaos$trial")
      val sink = new MemoryPubSub(spark)
      val published = scala.collection.mutable.Set.empty[String]
      var wave = 0
      (0 until 3).foreach { incarnation =>
        val ps = new SqlPubSub(spark, db, group = "gx")
        try {
          // a fresh publish wave before this incarnation
          val ids = (0 until 4).map(i => s"t$trial-w$wave-$i"); wave += 1
          ps.publish("t_chaos", ids.map(u => msg(u, "x")))
          published ++= ids
          val failures = rnd.nextInt(2) // 0 or 1 failing attempt first
          AcceptanceLatch.arm(s"chaos$trial-$incarnation", failures)
          val out = new Publisher {
            override def publish(t: String, m: Seq[Message]): Unit =
              sink.publish(t, m)
            override def publishBatch(t: String, df: org.apache.spark.sql.DataFrame): Unit = {
              if (AcceptanceLatch.shouldFail(s"chaos$trial-$incarnation"))
                throw new RuntimeException("chaos sink failure")
              sink.publishBatch(t, df)
            }
          }
          val r = new Router(spark, Some(java.nio.file.Files
            .createTempDirectory(s"chaos$trial-$incarnation-").toString))
          r.addHandler(s"c$incarnation", "t_chaos", ps, "t_chaos_out", out,
            Middlewares.passthrough)
          r.run()
          try { ps.awaitCaughtUp("t_chaos"); r.processAllAvailable() }
          catch { case _: Exception => () } // failing attempt = nack
          // drive once more within the incarnation (same checkpoint):
          // the nacked batch redelivers here, like a supervised restart
          try { r.processAllAvailable() } catch { case _: Exception => () }
          r.close()
        } finally ps.close()
      }
      // final healthy incarnation drains whatever remains
      val ps = new SqlPubSub(spark, db, group = "gx")
      try {
        val r = new Router(spark, Some(java.nio.file.Files
          .createTempDirectory(s"chaos$trial-final-").toString))
        r.addHandler("cf", "t_chaos", ps, "t_chaos_out", sink,
          Middlewares.passthrough)
        r.run(); ps.awaitCaughtUp("t_chaos"); r.processAllAvailable(); r.close()
        val got = sink.subscribeBatch("t_chaos_out").collect()
          .map(_.getAs[String]("uuid")).toSeq
        assert(got.toSet == published.toSet,
          s"trial $trial lost: ${published.toSet -- got.toSet}; extra: ${got.toSet -- published.toSet}")
        assert(got.length == published.size,
          s"trial $trial duplicated: ${got.groupBy(identity).filter(_._2.length > 1).keys}")
      } finally ps.close()
    }
  }

  test("delayed-release chaos: crashes around releases never lose; dups only on delayed rows") {
    // randomized lifecycle over the NEW release protocol: every
    // incarnation publishes mainline + short-delay rows, its sink may
    // fail its first attempt, instances die and restart fresh. The
    // contract: at-least-once for EVERYTHING (released rows included —
    // the class this round's re-publish-on-release fix closed) with
    // duplicates possible ONLY on delayed rows (a fresh instance can
    // re-read an original past-due row that an earlier incarnation
    // also released — at-least-once, never loss).
    val rnd = new scala.util.Random(7)
    val db = url("sqldchaos")
    val sink = new MemoryPubSub(spark)
    val mainline = scala.collection.mutable.Set.empty[String]
    val delayed = scala.collection.mutable.Set.empty[String]
    (0 until 3).foreach { incarnation =>
      val ps = new SqlPubSub(spark, db, group = "gdc", pollIntervalMs = 20)
      try {
        val due = java.time.Instant.now().plusMillis(300 + rnd.nextInt(400))
        val m = (0 until 3).map(i => s"m$incarnation-$i")
        val d = s"d$incarnation"
        mainline ++= m; delayed += d
        ps.publish("t_dchaos",
          m.map(u => msg(u, "x")) :+
            msg(d, "late", Map(graft.router.Ctx.DelayedUntil -> due.toString)))
        val failures = rnd.nextInt(2)
        AcceptanceLatch.arm(s"dchaos-$incarnation", failures)
        val out = new Publisher {
          override def publish(t: String, ms: Seq[Message]): Unit =
            sink.publish(t, ms)
          override def publishBatch(t: String, df: org.apache.spark.sql.DataFrame): Unit = {
            if (AcceptanceLatch.shouldFail(s"dchaos-$incarnation"))
              throw new RuntimeException("chaos sink failure")
            sink.publishBatch(t, df)
          }
        }
        val r = new Router(spark, Some(java.nio.file.Files
          .createTempDirectory(s"dchaos-$incarnation-").toString))
        r.addHandler(s"h$incarnation", "t_dchaos", ps, "t_dchaos_out", out,
          Middlewares.passthrough)
        r.run()
        try { ps.awaitCaughtUp("t_dchaos"); r.processAllAvailable() }
        catch { case _: Exception => () }
        Thread.sleep(400 + rnd.nextInt(300)) // let some releases happen
        try { r.processAllAvailable() } catch { case _: Exception => () }
        r.close()
      } finally ps.close() // crash: whatever was released but uncommitted redelivers
    }
    // final healthy incarnation: wait past every due time, drain all
    val ps = new SqlPubSub(spark, db, group = "gdc", pollIntervalMs = 20)
    try {
      Thread.sleep(900)
      val r = new Router(spark, Some(java.nio.file.Files
        .createTempDirectory("dchaos-final-").toString))
      r.addHandler("hf", "t_dchaos", ps, "t_dchaos_out", sink,
        Middlewares.passthrough)
      r.run()
      val want = mainline.toSet ++ delayed
      val deadline = System.currentTimeMillis() + 20000
      var got = Seq.empty[String]
      while (System.currentTimeMillis() < deadline && {
        ps.awaitCaughtUp("t_dchaos"); r.processAllAvailable()
        got = sink.subscribeBatch("t_dchaos_out").collect()
          .map(_.getAs[String]("uuid")).toSeq
        !want.subsetOf(got.toSet)
      }) Thread.sleep(100)
      r.close()
      assert(want.subsetOf(got.toSet),
        s"lost under delayed chaos: ${want -- got.toSet}")
      val dups = got.groupBy(identity).filter(_._2.length > 1).keySet
      assert(dups.subsetOf(delayed),
        s"mainline rows must never duplicate, got dups: ${dups -- delayed}")
    } finally ps.close()
  }

  test("polling subscribe tails new rows and resumes from the stored offset") {
    val db = url("sqlcdc")
    val ps = new SqlPubSub(spark, db, group = "g1")
    val sink = new MemoryPubSub(spark)
    try {
      ps.publish("t_cdc", Seq(msg("c1", "one"), msg("c2", "two")))
      val router = new Router(spark)
      router.addHandler("sql-ingest", "t_cdc", ps, "sql_out", sink,
        Middlewares.passthrough)
      router.run()
      ps.awaitCaughtUp("t_cdc"); router.processAllAvailable()
      // CDC increment: rows published AFTER the stream started
      ps.publish("t_cdc", Seq(msg("c3", "three")))
      ps.awaitCaughtUp("t_cdc"); router.processAllAvailable()
      router.close()
      val got = sink.subscribeBatch("sql_out").collect().map(_.getAs[String]("uuid"))
      assert(got.toSet == Set("c1", "c2", "c3"))
      assert(got.length == 3, s"no redelivery expected, got ${got.toSeq}")
    } finally ps.close()

    // same group resumes PAST the acked offset — no redelivery; a row
    // published while nobody was polling is picked up
    val ps2 = new SqlPubSub(spark, db, group = "g1")
    try {
      ps2.publish("t_cdc", Seq(msg("c4", "four")))
      val drained = new java.util.concurrent.atomic.AtomicInteger
      val seen = scala.collection.concurrent.TrieMap.empty[String, Boolean]
      val q = ps2.subscribe("t_cdc").writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sqlr-").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen(r.getAs[String]("uuid")) = true)
          drained.incrementAndGet(); ()
        }.start()
      try {
        ps2.awaitCaughtUp("t_cdc"); q.processAllAvailable()
        assert(seen.keySet == Set("c4"),
          s"resumed group must see only unacked rows, got ${seen.keySet}")
      } finally q.stop()
    } finally ps2.close()
  }
}

/** Executor-safe probe for the consumer-handler ack test (closures
  * capture statics, never the suite). */
object SqlAckProbe {
  val seen: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
