package graft.router

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Message
import graft.sources.{Decorators, FilePubSub, MemoryPubSub, PubSub, RetryingPublisher}

/** Regression tests for the round-11 robustness review findings:
  * epoch forwarding through decorators, consumer-handler dead-letter
  * routing, failure-path epoch bookkeeping, and (group, handler) name
  * ambiguity.
  */
class RobustnessSpec extends SparkSpec {

  import spark.implicits._
  import RobustnessSpec.PlainPubSub

  private def msg(u: String) =
    Message(u, Map.empty, u.getBytes("UTF-8"), new Timestamp(1700000000000L))

  test("decorated and retrying publishers forward publishEpoch (exactly-once preserved)") {
    val ps = new MemoryPubSub(spark)
    ps.subscribeInitialize("dec_epoch")
    val decorated = Decorators.publisher(ps, identity, df => df)
    val retrying = new RetryingPublisher(ps)
    // same writerId delivered twice through each wrapper: the second
    // must dedup via the inner transport's epoch path (the trait
    // default would route to publishBatch and append twice)
    val df = Seq(msg("e1")).toDF()
    decorated.publishEpoch("dec_epoch", df, "w1")
    decorated.publishEpoch("dec_epoch", df, "w1")
    retrying.publishEpoch("dec_epoch", Seq(msg("e2")).toDF(), "w2")
    retrying.publishEpoch("dec_epoch", Seq(msg("e2")).toDF(), "w2")
    val got = ps.subscribeBatch("dec_epoch").collect().map(_.getAs[String]("uuid"))
    assert(got.sorted.toSeq == Seq("e1", "e2"), s"duplicated: ${got.toSeq}")
  }

  test("a failed epoch publish can be retried, and the retry still dedups later replays") {
    val ps = new MemoryPubSub(spark)
    ps.subscribeInitialize("fail_epoch")
    val bad = Seq(msg("f1")).toDF()
      .withColumn("uuid", expr("raise_error('simulated transient failure')"))
    intercept[Exception] { ps.publishEpoch("fail_epoch", bad, "wf") }
    // the failure released the claim: the retry of the SAME epoch
    // delivers...
    ps.publishEpoch("fail_epoch", Seq(msg("f1")).toDF(), "wf")
    // ...and a later replay of the now-committed epoch dedups
    ps.publishEpoch("fail_epoch", Seq(msg("f1")).toDF(), "wf")
    val got = ps.subscribeBatch("fail_epoch").collect().map(_.getAs[String]("uuid"))
    assert(got.toSeq == Seq("f1"), s"lost or duplicated: ${got.toSeq}")
  }

  test("consumer handler routes poison messages to the dead-letter topic instead of dropping them") {
    val root = Files.createTempDirectory("graft-rb-").toString
    val ps = new FilePubSub(spark, root)
    // both sink paths: the transport's one-pass routed publish, and the
    // per-topic publishEpoch fallback of a plain publisher
    val plain = new PlainPubSub(ps)
    Seq("" -> ps, "_plain" -> plain).foreach { case (sfx, transport) =>
      ps.subscribeInitialize(s"rb_in$sfx")
      ps.subscribeInitialize(s"dlq$sfx")
      ps.publish(s"rb_in$sfx", Seq(msg("ok1"), msg("boom"), msg("ok2")))
      val r = new Router(spark,
        Some(Files.createTempDirectory("rb-ck-").toString))
      r.addConsumerHandler("rb", s"rb_in$sfx", transport,
        consume = m => if (m.uuid == "boom") sys.error("handler failure"),
        middlewares = Seq(Middlewares.poisonQueue(s"dlq$sfx")))
      r.run(); r.processAllAvailable(); r.close()
      val dlq = ps.subscribeBatch(s"dlq$sfx").collect().map(_.getAs[String]("uuid"))
      assert(dlq.toSeq == Seq("boom"),
        s"poison message must reach the dead-letter topic, got ${dlq.toSeq}")
    }
    assert(plain.epochTopics == Seq("dlq_plain"),
      s"the plain transport must take the per-topic fallback: ${plain.epochTopics}")
  }

  test("a publishing handler's topic overrides reach a plain (non-routed) publisher exactly once") {
    val root = Files.createTempDirectory("graft-pf-").toString
    val ps = new FilePubSub(spark, root)
    val plain = new PlainPubSub(ps)
    Seq("pf_in", "pf_out", "pf_dlq").foreach(ps.subscribeInitialize)
    ps.publish("pf_in", Seq(msg("ok1"), msg("boom"), msg("ok2")))
    val r = new Router(spark,
      Some(Files.createTempDirectory("pf-ck-").toString))
    r.addHandler("pf", "pf_in", ps, "pf_out", plain,
      m => if (m.uuid == "boom") sys.error("handler failure") else Seq(m),
      middlewares = Seq(Middlewares.poisonQueue("pf_dlq")))
    r.run(); r.processAllAvailable(); r.close()
    def uuids(t: String) =
      ps.subscribeBatch(t).collect().map(_.getAs[String]("uuid")).toSeq.sorted
    assert(uuids("pf_dlq") == Seq("boom"),
      s"the override row must be delivered once: ${uuids("pf_dlq")}")
    assert(uuids("pf_out") == Seq("ok1", "ok2"),
      s"default-topic rows must be delivered once: ${uuids("pf_out")}")
    assert(plain.epochTopics.sorted == Seq("pf_dlq", "pf_out"),
      s"one publishEpoch per destination topic: ${plain.epochTopics}")
  }

  test("(group, handler) names containing '-' cannot alias checkpoints or epoch writers") {
    val root = Files.createTempDirectory("graft-alias-").toString
    val ckpt = Files.createTempDirectory("alias-ck-").toString
    val ps = new FilePubSub(spark, root)
    ps.subscribeInitialize("al_in")
    ps.publish("al_in", (0 until 6).map(i => msg(s"a$i")))
    // the classic ambiguity: ("a-b", "c") vs ("a", "b-c") — joined
    // with '-' both collapse to "a-b-c"
    val r1 = new Router(spark, Some(ckpt), group = Some("a-b"))
    val r2 = new Router(spark, Some(ckpt), group = Some("a"))
    r1.addHandler("c", "al_in", ps, "al_out_1", ps, Middlewares.passthrough)
    r2.addHandler("b-c", "al_in", ps, "al_out_2", ps, Middlewares.passthrough)
    r1.run(); r1.processAllAvailable()
    r2.run(); r2.processAllAvailable()
    r1.close(); r2.close()
    val want = (0 until 6).map(i => s"a$i").toSet
    val o1 = ps.subscribeBatch("al_out_1").collect().map(_.getAs[String]("uuid")).toSet
    val o2 = ps.subscribeBatch("al_out_2").collect().map(_.getAs[String]("uuid")).toSet
    assert(o1 == want, s"handler 1 lost ${want -- o1} to checkpoint aliasing")
    assert(o2 == want, s"handler 2 lost ${want -- o2} to checkpoint aliasing")
  }
}

object RobustnessSpec {

  /** A FilePubSub behind the plain [[PubSub]] surface: it does not
    * override `publishRoutedEpoch`, so the router sinks take the
    * trait's per-topic default, one `publishEpoch` per destination.
    * Records the topic of each epoch publish (the sinks call it on the
    * driver). */
  final class PlainPubSub(inner: FilePubSub) extends PubSub {
    private val topics = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def epochTopics: Seq[String] = topics.toArray(Array.empty[String]).toSeq
    def publish(topic: String, msgs: Seq[Message]): Unit = inner.publish(topic, msgs)
    def publishBatch(topic: String, df: DataFrame): Unit = inner.publishBatch(topic, df)
    override def publishEpoch(topic: String, df: DataFrame, writerId: String): Unit = {
      topics.add(topic); inner.publishEpoch(topic, df, writerId)
    }
    def subscribe(topic: String): DataFrame = inner.subscribe(topic)
    def subscribeBatch(topic: String): DataFrame = inner.subscribeBatch(topic)
    override def subscribeInitialize(topic: String): Unit = inner.subscribeInitialize(topic)
  }
}
