package org.apache.spark.sql.graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.{DataType, ObjectType}

/** Builds graft's native kernel calls: each kernel is one plain JVM
  * method (`HashUtil`, `VecUtil`, `ZOrderUtil`, or a model object's
  * instance method), and Spark's `StaticInvoke` / `Invoke` derive both
  * evaluation paths from that one method reference — a direct call in
  * whole-stage generated code, a reflective call on the interpreted
  * path (e.g. inside a higher-order-function lambda, which Spark does
  * not codegen).
  *
  *  - Each argument is paired with the type its kernel reads. The
  *    analyzer casts an argument of another type to it (an
  *    `ARRAY<FLOAT>` reaching a `getDouble` kernel is widened, never
  *    misread) or rejects the call.
  *  - A NULL argument gives a NULL result; a call on non-null
  *    arguments never returns NULL.
  *  - A plan-time model (IVF centroids, SRP planes, PQ codebooks, a
  *    Bloom filter, a BPE model) is passed as a [[model]] argument: an
  *    object literal that codegen places in one `references[i]` slot,
  *    so the generated code is the same for every micro-batch and the
  *    compiled-class cache keeps hitting.
  *
  * Lives in org.apache.spark.sql for the `private[sql]` type that
  * `StaticInvoke`'s input types are declared as (same visibility
  * rationale as [[ColumnBridge]]).
  */
object Kernel {

  /** `owner.fn(args)`: `owner` is a Scala object, called through its
    * static forwarder. */
  def static(owner: AnyRef, fn: String, result: DataType,
      args: (Column, DataType)*): Column = {
    val (exprs, types) = unzip(args)
    ColumnBridge.column(StaticInvoke(owner.getClass, result, fn, exprs, types,
      returnNullable = false))
  }

  /** `target.fn(args)`: an instance method of a plan-time model. */
  def method[T <: AnyRef: ClassTag](target: T, fn: String, result: DataType,
      args: (Column, DataType)*): Column = {
    val (exprs, types) = unzip(args)
    ColumnBridge.column(Invoke(literal(target), fn, result, exprs, types,
      returnNullable = false))
  }

  /** A plan-time model object as a kernel argument, typed as `T`. */
  def model[T <: AnyRef: ClassTag](obj: T): (Column, DataType) = {
    val l = literal(obj)
    (ColumnBridge.column(l), l.dataType)
  }

  private def literal[T <: AnyRef: ClassTag](obj: T): Literal =
    Literal(obj, ObjectType(classTag[T].runtimeClass))

  private def unzip(args: Seq[(Column, DataType)]) =
    args.map { case (c, t) => (ColumnBridge.expression(c), t) }.unzip
}
