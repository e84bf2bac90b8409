package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank in integer fixed-point — iterative link analysis as a
  * sequence of plain join+aggregate rounds, the same distributed shape
  * GraphX/Pregel lowers to, with no float anywhere: ranks live in
  * millionths (1.0 == 1,000,000), per-neighbor contributions use
  * truncating `div`, and every per-node sum is a BIGINT sum — so the
  * result is bit-identical across engines, partitionings, and retries
  * (an ORACLE-EXACT iterative computation, where float PageRank could
  * only ever be approximately compared).
  *
  * Scale shape per iteration: one hash join of the rank table with the
  * edge list on the source key, one shuffle to re-aggregate by
  * destination — both AQE-managed equi-operations; nothing is
  * collected, broadcast, or driver-resident. Hub skew (a node with
  * millions of in-edges) is aggregation skew, which partial
  * aggregation absorbs. Iteration count is a fixed parameter (the
  * caller picks convergence depth), so the physical plan is statically
  * bounded; deep iteration counts run as pinned blocks under
  * [[Iterate]].
  */
object PageRank {

  /** Ranks after `iterations` rounds over an UNDIRECTED edge list
    * (`u`, `v` — each pair listed once; both directions are derived).
    * Damping 0.85 in millionths. Returns `(node, rank)` for every node
    * with at least one edge. */
  def ranks(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    // materialize the directed adjacency ONCE: it is referenced every
    // iteration, and without a checkpoint Catalyst would re-derive the
    // caller's whole edge pipeline (scan, pair explode, support
    // filter) per round — the iterative-plan analogue of a loop
    // invariant. localCheckpoint is executor-local (re-lost on
    // executor failure); a 1000-executor production run writes the
    // adjacency to parquet instead — same math, durable lineage cut.
    // both directions from ONE reference to `edges` via explode — the
    // union form referenced the caller's whole edge-derivation
    // pipeline from two plan branches, and Catalyst re-evaluates each
    // reference (the dupClusters edge-list rule; measured as a 2×
    // final-agg in q97's checkpoint job)
    val und = edges.select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val adj = und.join(deg, "u").localCheckpoint()
    // (850 * s) div 1000 ≡ (850000 * s) div 1000000 exactly (both
    // scale numerator and denominator by 1000), with 1000x the
    // overflow headroom: the old form wrapped Long past s ≈ 1.08e13
    // — a hub with ~1.2e7 unit-rank in-neighbors — silently
    // poisoning every later round. The DuckDB oracle keeps the
    // 850000/1000000 spelling (HUGEINT arithmetic cannot wrap);
    // the values are identical.
    def advance(from: DataFrame, n: Int): DataFrame = (1 to n).foldLeft(from) { (r, _) =>
      adj.join(r, adj("u") === r("node"))
        .select(col("v"), expr("rank div deg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
        .select(col("v").as("node"),
          (lit(150000L) + expr("(850 * s) div 1000")).as("rank"))
    }
    // bound plan depth: each iteration nests a join+agg over the prior
    // one's plan and Catalyst's analysis cost grows superlinearly with
    // depth, so one driver round is a lazy block of 5 iterations,
    // pinned by [[Iterate]]. The last block (1 to 5 iterations) stays
    // lazy, so q97's 5-iteration plan carries no pin at all while
    // ranks(_, 50) stays plannable.
    val pinned = (iterations - 1) / 5
    val blocks = Iterate("PageRank", deg.select(col("u").as("node"), lit(1000000L).as("rank")),
      pinned)((r, _) => advance(r, 5))
    advance(blocks, iterations - 5 * pinned)
  }
}
