package graft.cqrs

import java.sql.Timestamp

import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.core.{Ids, Message}

/** Shared Jackson codec (Jackson + scala module ship with Spark).
  * Static so executor tasks resolve it by class, never by closure
  * serialization. */
object JsonCodec {
  lazy val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
  def write(v: Any): Array[Byte] = mapper.writeValueAsBytes(v)
  def read[T](bytes: Array[Byte], cls: Class[T]): T = mapper.readValue(bytes, cls)

  /** Metadata-map read with the element types VALIDATED: erasure means
    * `read(bytes, classOf[Map[String, String]])` honors only the raw
    * Map class, so `{"a":1}` would "succeed" with a non-String value
    * that detonates far from the parse (at Row-encode inside
    * publish/poll) — outside any catch that knows the input. Throwing
    * HERE lands in each caller's documented malformed-input path
    * (HTTP: drop the carrier; SQL poll: a loud, named parse error
    * instead of an encoder stack trace). */
  def readStringMap(bytes: Array[Byte]): Map[String, String] =
    read(bytes, classOf[Map[String, Any]]).map {
      case (k, v: String) => k -> v
      case (k, v) => throw new IllegalArgumentException(
        s"metadata entry '$k' is not a string: " +
          (if (v == null) "null" else v.getClass.getName))
    }
}

/** Type-name generation, parity with `FullyQualifiedStructName` /
  * `StructName` (reference: components/cqrs/name.go:17-57). */
object Names {
  def fullyQualified(cls: Class[_]): String = cls.getName
  def short(cls: Class[_]): String = cls.getSimpleName.stripSuffix("$")
  def of[T](implicit ct: ClassTag[T]): String = fullyQualified(ct.runtimeClass)
}

/** Command/event codec contract, parity with `CommandEventMarshaler`
  * (reference: components/cqrs/marshaler.go:12-28): typed value ↔
  * Message with the type name stamped into metadata key "name". */
trait Marshaler extends Serializable {
  val NameKey = "name"
  def name(cls: Class[_]): String
  def nameFromMessage(m: Message): String = m.get(NameKey)
  def marshal(v: Any): Message
  def unmarshal[T](m: Message)(implicit ct: ClassTag[T]): T
}

/** JSON marshaler, parity with `JSONMarshaler`
  * (reference: components/cqrs/marshaler_json.go:15-53); the name is
  * stamped at marshaler_json.go:25,51-53. The protobuf variant is
  * [[ProtoMarshaler]]. */
final class JsonMarshaler(
    nameOf: Class[_] => String = Names.fullyQualified,
    newUuid: () => String = () => Ids.newUuid()) extends Marshaler {

  def name(cls: Class[_]): String = nameOf(cls)

  def marshal(v: Any): Message =
    Message(newUuid(), Map(NameKey -> nameOf(v.getClass)),
      JsonCodec.write(v), new Timestamp(System.currentTimeMillis()))

  def unmarshal[T](m: Message)(implicit ct: ClassTag[T]): T =
    JsonCodec.read(m.payload, ct.runtimeClass.asInstanceOf[Class[T]])
}
