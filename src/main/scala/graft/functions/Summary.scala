package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** The math of one mergeable summary (Agarwal et al., "Mergeable
  * Summaries", PODS'12): the sketch shelf's [[QuantileSketch]] (KLL),
  * [[DistinctSketch]] (HLL), [[CountMin]] and [[HeavyHitters]]
  * (Misra–Gries) each define one, and the two aggregators in the
  * companion give every family the same lifecycle.
  *
  * Four forms, two aggregators:
  *  - values → answer and values → stored state are [[Summary.build]]:
  *    `add` per input row, `merge` across partial buffers, then a
  *    finish function (an estimate, quantiles, a CDF, or [[stored]]);
  *  - stored states → answer and stored states → state are
  *    [[Summary.merge]]: each stored state row is `merge`d into the
  *    buffer, then the same finish functions apply.
  *
  * A stored state is what makes a sketch shelf scale: pre-aggregate
  * each slice (day / source / shard) once, then answer cross-slice
  * questions ("distinct users last 90 days", "p99 length per source")
  * by merging a handful of state rows, never rescanning the raw corpus.
  *
  * Null rules. `add` owns the input-null rule, which differs per family
  * (an `Option` input, a skipped null key, or a primitive that cannot be
  * null). A NULL stored-state row is skipped by [[Summary.merge]] alone,
  * like a null input to any built-in aggregate: stored state tables are
  * an open parquet surface, and one foreign or schema-evolved null row
  * must not fail the whole aggregation.
  *
  * [[stored]] is the canonical storable form: the buffer without its
  * spare capacity (HLL trims its sparse hash list to the live prefix,
  * KLL its level 0; CountMin and Misra–Gries store the buffer as is).
  * A stored state is a valid `merge` input.
  *
  * [[check]] guards `merge` against a stored state of another shape
  * (a CountMin of another width, an HLL of another precision): it runs
  * on every non-null state row [[Summary.merge]] reads and throws
  * `IllegalArgumentException` naming the expected and the found sizes,
  * where an unchecked merge would index past the state or silently mix
  * incompatible counters.
  *
  * Spark-first: both aggregators are typed [[Aggregator]]s
  * (TypedImperativeAggregate), so the buffer lives as a live object per
  * partition, partial summaries merge map-side, only buffers shuffle,
  * and the finish runs inside the one aggregate node. */
trait Summary[In, S] extends Serializable {
  def zero: S
  def add(buf: S, v: In): S
  /** Fold two summaries into one; may reuse either argument. */
  def merge(a: S, b: S): S
  def stored(buf: S): S = buf
  /** Throws `IllegalArgumentException` when a stored state cannot be
    * merged into this summary's buffer. */
  def check(state: S): Unit = ()
  def inputEncoder: Encoder[In]
  def stateEncoder: Encoder[S]
}

object Summary {

  private final class Build[In, S, Out](sm: Summary[In, S], fin: S => Out,
      out: Encoder[Out]) extends Aggregator[In, S, Out] {
    override def zero: S = sm.zero
    override def reduce(buf: S, v: In): S = sm.add(buf, v)
    override def merge(a: S, b: S): S = sm.merge(a, b)
    override def finish(buf: S): Out = fin(buf)
    override def bufferEncoder: Encoder[S] = sm.stateEncoder
    override def outputEncoder: Encoder[Out] = out
  }

  private final class Merge[S, Out](sm: Summary[_, S], fin: S => Out,
      out: Encoder[Out]) extends Aggregator[S, S, Out] {
    override def zero: S = sm.zero
    override def reduce(buf: S, state: S): S =
      if (state == null) buf else { sm.check(state); sm.merge(buf, state) }
    override def merge(a: S, b: S): S = sm.merge(a, b)
    override def finish(buf: S): Out = fin(buf)
    override def bufferEncoder: Encoder[S] = sm.stateEncoder
    override def outputEncoder: Encoder[Out] = out
  }

  /** Aggregate input values → `finish` of the group's summary. */
  def build[In, S, Out](sm: Summary[In, S], finish: S => Out,
      out: Encoder[Out]): UserDefinedFunction =
    udaf(new Build(sm, finish, out), sm.inputEncoder)

  /** Aggregate stored states → `finish` of their merged summary. */
  def merge[S, Out](sm: Summary[_, S], finish: S => Out,
      out: Encoder[Out]): UserDefinedFunction =
    udaf(new Merge(sm, finish, out), sm.stateEncoder)

  /** Aggregate input values → storable state. */
  def buildState[In, S](sm: Summary[In, S]): UserDefinedFunction =
    build(sm, sm.stored, sm.stateEncoder)

  /** Aggregate stored states → merged storable state (compaction). */
  def mergeState[S](sm: Summary[_, S]): UserDefinedFunction =
    merge(sm, sm.stored, sm.stateEncoder)
}
