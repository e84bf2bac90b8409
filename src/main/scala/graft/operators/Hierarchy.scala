package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening by pointer doubling — the O(log depth) form of
  * q115's one-hop-per-round walk. Each round composes the jump table
  * with itself, so entry k maps every node to its 2^k-th ancestor
  * (saturating at the root) together with the hop count and the sum of
  * ancestors along the jump; ceil(log2 maxDepth) rounds replace
  * maxDepth sequential joins. The composition carries (ancestor, hops,
  * partial-sum) as a monoid — the same jump-table algebra as
  * [[graft.functions.DedupFunctions.dupClusters]]' label propagation,
  * here with path aggregation attached.
  *
  * Scale shape: each round is ONE self-join of the jump table (hash
  * shuffle on the ancestor key) and the table never grows — always
  * |non-root nodes| rows. A 64-deep hierarchy costs 6 rounds instead
  * of 64. The rounds run under [[Iterate]], which keeps plan size
  * constant by pinning each one.
  */
object Hierarchy {

  /** Flatten `edges` (`id`, `parent`; roots simply absent as ids) for
    * every node in `nodes` (`id`). Returns (id, root, depth,
    * path_sum) where path_sum = id + every ancestor up to and
    * including the root — exactly q115's walk semantics. `maxDepth`
    * bounds the deepest chain (rounds = ceil(log2 maxDepth)). */
  def flatten(nodes: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val init = edges.select(col("id").as("v"), col("parent").as("anc"),
        lit(1L).as("d"), col("parent").as("s"))
      .localCheckpoint()
    // the jump table never changes size (always |non-root nodes| rows:
    // the self-join is a left join composing pointers in place); round
    // k's table spans 2^k hops, so ceil(log2 maxDepth) rounds
    val rounds = 32 - Integer.numberOfLeadingZeros(maxDepth - 1)
    val jump = Iterate("Hierarchy", init, rounds) { (j, _) =>
      val j2 = j.select(col("v").as("v2"), col("anc").as("anc2"),
        col("d").as("d2"), col("s").as("s2"))
      // left join: an entry whose ancestor is a root (no jump entry)
      // is already saturated and passes through unchanged
      j.join(j2, col("anc") === col("v2"), "left")
        .select(col("v"),
          coalesce(col("anc2"), col("anc")).as("anc"),
          (col("d") + coalesce(col("d2"), lit(0L))).as("d"),
          (col("s") + coalesce(col("s2"), lit(0L))).as("s"))
    }
    nodes.select(col("id"))
      .join(jump, col("id") === col("v"), "left")
      .select(col("id"),
        coalesce(col("anc"), col("id")).as("root"),
        coalesce(col("d"), lit(0L)).as("depth"),
        (col("id") + coalesce(col("s"), lit(0L))).as("path_sum"))
  }
}
