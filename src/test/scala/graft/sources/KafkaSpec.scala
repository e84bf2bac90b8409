package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Message

/** Broker-free checks of the Kafka transport's envelope<->record
  * mapping (no broker in this container, so the projections are
  * asserted at the expression level). The middleware contract rides on
  * metadata headers (correlation.go:15-43, poison.go:14-19,
  * delay.go:56-59) — a publish path that drops them loses
  * correlation ids, poison reasons, and delay stamps on every Kafka
  * round trip, so the publish projection MUST carry headers and the
  * two directions must be exact inverses.
  */
class KafkaSpec extends SparkSpec {

  import spark.implicits._

  private def frame(ms: Message*) = ms.toDF()

  private val m1 = Message("u1",
    Map("correlation_id" -> "c-42", "reason_poisoned" -> "boom"),
    "payload-one".getBytes("UTF-8"), new Timestamp(1700000000000L))
  private val m2 = Message("u2", Map.empty,
    "payload-two".getBytes("UTF-8"), new Timestamp(1700000001000L))

  test("publish projection has the exact Kafka sink schema, headers included") {
    val out = KafkaPubSub.publishProjection(frame(m1, m2), lit("t"))
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "key" -> "string",
      "value" -> "binary",
      "topic" -> "string",
      "headers" -> "array<struct<key:string,value:binary>>"))
  }

  test("metadata -> headers -> metadata is the identity for string metadata") {
    val roundTripped = frame(m1, m2)
      .select(col("uuid"),
        KafkaPubSub.headersToMetadata(
          KafkaPubSub.metadataToHeaders(col("metadata"))).as("metadata"))
      .collect()
      .map(r => r.getAs[String]("uuid") -> r.getAs[Map[String, String]]("metadata"))
      .toMap
    assert(roundTripped == Map("u1" -> m1.metadata, "u2" -> m2.metadata))
  }

  test("repeated Kafka header keys (legal in Kafka) dedupe last-wins instead of failing") {
    import org.apache.spark.sql.functions.expr
    val dup = spark.sql("""SELECT array(
        named_struct('key', 'trace', 'value', CAST('first' AS BINARY)),
        named_struct('key', 'other', 'value', CAST('x' AS BINARY)),
        named_struct('key', 'trace', 'value', CAST('second' AS BINARY))
      ) AS headers""")
    val got = dup.select(KafkaPubSub.headersToMetadata(expr("headers")).as("m"))
      .collect().head.getAs[Map[String, String]]("m")
    assert(got == Map("trace" -> "second", "other" -> "x"),
      s"last occurrence must win (kafka lastHeader convention): $got")
  }

  test("publish -> subscribe projections round-trip the envelope (sans ts)") {
    // Simulate what the broker hands back: the published record plus
    // broker-assigned timestamp/partition/offset, then apply the
    // subscribe projection.
    val published = KafkaPubSub.publishProjection(frame(m1, m2), lit("t"))
      .withColumn("timestamp", lit(new Timestamp(1700000002000L)))
      .withColumn("partition", lit(0))
      .withColumn("offset", monotonically_increasing_id())
    val back = KafkaPubSub.subscribeProjection(published)
      .as[Message].collect().map(m => m.uuid -> m).toMap
    assert(back("u1").metadata == m1.metadata)
    assert(back("u1").payloadString == m1.payloadString)
    assert(back("u2").metadata == m2.metadata)
    assert(back("u2").payloadString == m2.payloadString)
  }

  test("keyless foreign records synthesize DISTINCT uuids from (topic, partition, offset)") {
    // A shared sentinel uuid ("" for every keyless record) perfectly
    // correlates uuid-hash-seeded middleware (chaos drop/delay) and
    // collapses any uuid-keyed dedup across ALL such records — the
    // fallback must be unique per record and replay-stable.
    val foreign = spark.range(2).select(
      lit(null).cast("binary").as("key"),
      lit("p".getBytes("UTF-8")).as("value"),
      lit("t").as("topic"),
      lit(null).cast("array<struct<key:string,value:binary>>").as("headers"),
      lit(new Timestamp(1700000002000L)).as("timestamp"),
      lit(3).as("partition"),
      col("id").as("offset"))
    val uuids = KafkaPubSub.subscribeProjection(foreign)
      .select("uuid").as[String].collect().toSeq.sorted
    assert(uuids == Seq("kafka:t:3:0", "kafka:t:3:1"),
      s"fallback uuid must be the record's broker identity: $uuids")
  }

  test("EMPTY-byte-array keys (legal Kafka, distinct from null) also synthesize unique uuids") {
    // key = new byte[0] casts to "" — without the nullif guard every
    // such record shared uuid "", the exact collapsed-identity failure
    // the keyless fallback exists to prevent
    val foreign = spark.range(2).select(
      lit(Array.emptyByteArray).as("key"),
      lit("p".getBytes("UTF-8")).as("value"),
      lit("t").as("topic"),
      lit(null).cast("array<struct<key:string,value:binary>>").as("headers"),
      lit(new Timestamp(1700000002000L)).as("timestamp"),
      lit(4).as("partition"),
      col("id").as("offset"))
    val uuids = KafkaPubSub.subscribeProjection(foreign)
      .select("uuid").as[String].collect().toSeq.sorted
    assert(uuids == Seq("kafka:t:4:0", "kafka:t:4:1"),
      s"empty-key records must not share one uuid: $uuids")
  }

  test("routed publish projection takes the per-row topic column") {
    val routed = frame(m1, m2).withColumn("_topic",
      concat(lit("dest_"), col("uuid")))
    val out = KafkaPubSub.publishProjection(routed, col("_topic"))
      .select("key", "topic").as[(String, String)].collect().toMap
    assert(out == Map("u1" -> "dest_u1", "u2" -> "dest_u2"))
  }

  test("subscribeInitialize degrades to a no-op without kafka-clients on the classpath") {
    // this container has no kafka-clients jar: the reflective DDL path
    // must not throw (with the jar present it creates the topic)
    new KafkaPubSub(spark, "localhost:9092").subscribeInitialize("ddl_topic")
  }
}
