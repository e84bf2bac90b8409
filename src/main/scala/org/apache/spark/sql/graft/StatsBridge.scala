package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` Dataset/LogicalRDD constructors so
  * [[graft.operators.Iterate]], the driver behind every iterative
  * operator, can CLAMP a localCheckpoint leaf's inherited
  * statistics (same visibility rationale as [[ColumnBridge]]).
  *
  * Why this exists: `Dataset.localCheckpoint` copies the OPTIMIZED
  * plan's `Statistics` onto the new `LogicalRDD` leaf, and Spark's
  * size-only estimate for a join is the PRODUCT of its children's
  * `sizeInBytes`. An iterative operator whose round references the
  * previous leaf r times therefore stores size^r on the next leaf —
  * digit count grows geometrically with rounds, and every later stats
  * walk burns driver CPU multiplying ~10^4..10^6-digit BigIntegers
  * (`SizeInBytesOnlyStatsPlanVisitor` via
  * `BigInteger.multiplyToomCook3`, caught by driver thread dumps in
  * round 20). Clamping each round's leaf to its OBSERVED row count
  * resets the compounding to a small constant, and — unlike a
  * stat-less leaf, whose `defaultSizeInBytes` = Long.MaxValue disables
  * every broadcast — keeps the estimates honest enough for the
  * planner to pick broadcast joins where the data really is small.
  */
object StatsBridge {

  /** If `df` is a checkpoint leaf (`LogicalRDD`), a copy whose stats
    * are `rowCount` rows at `EstimationUtils.getSizePerRow` bytes each
    * (row overhead plus each column type's default size: the ORDER of
    * magnitude the planner needs, not an exact byte count); any other
    * plan shape is returned unchanged (nothing to clamp — only
    * checkpoint leaves inherit compounded estimates). Column-level
    * stats are dropped (the size-only estimator never had them here);
    * constraints are preserved. */
  def clampStats(df: DataFrame, rowCount: Long): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[SparkSession]
        val n = BigInt(math.max(rowCount, 0L))
        val stats = Statistics(
          sizeInBytes = (n * EstimationUtils.getSizePerRow(l.output)).max(1),
          rowCount = Some(n))
        // case-class copy: first parameter list keeps the leaf's own
        // fields (same RDD — no recompute, no new blocks); the curried
        // list swaps in the clamped stats. Constraints ride along via
        // the leaf's public accessor.
        val clamped = l.copy()(session, Some(stats), Some(l.constraints))
        Dataset.ofRows(session, clamped)
      case _ => df
    }
}
