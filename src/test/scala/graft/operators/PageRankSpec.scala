package graft.operators

import graft.SparkSpec

/** Structural PageRank properties on known graphs (the oracle gate
  * q97 pins exact values; this pins the ORDERING the values imply).
  */
class PageRankSpec extends SparkSpec {

  import spark.implicits._

  private def rankMap(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.ranks(edges.toDF("u", "v"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star graph: the hub outranks every leaf") {
    val star = (1L to 8L).map(i => (0L, i))
    val r = rankMap(star, 5)
    assert((1L to 8L).forall(i => r(0L) > r(i)),
      s"hub must dominate: $r")
    // leaves are symmetric -> identical ranks
    assert((1L to 8L).map(r).toSet.size == 1)
  }

  test("cycle: full symmetry means every node holds the initial mass") {
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    val r = rankMap(cycle, 5)
    assert(r.values.toSet.size == 1, s"cycle ranks must be equal: $r")
    // deg=2 everywhere: contribution = rank/2 each way, stationary at 1.0
    assert(r.values.head == 1000000L)
  }

  test("two disconnected components do not leak rank into each other") {
    val a = Seq((0L, 1L), (1L, 2L), (2L, 0L))       // triangle
    val b = Seq((10L, 11L))                          // isolated pair
    val r = rankMap(a ++ b, 4)
    assert(r(10L) == r(11L))
    assert(r(0L) == r(1L) && r(1L) == r(2L))
    assert(r(0L) == 1000000L && r(10L) == 1000000L,
      "symmetric components sit at the fixed point")
  }

  test("50 iterations: live checkpoint blocks stay at one round plus the adjacency pins") {
    // nine pinned 5-iteration blocks; the call may leave registered
    // only its own pins (the undirected edge list and the adjacency)
    // and the last block's ranks. Compared as id sets: the
    // ContextCleaner may drop OTHER entries during the call.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    val r = rankMap(cycle, 50)
    assert(r.values.toSet == Set(1000000L), s"cycle ranks must stay at 1.0: $r")
    val live = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(live.size <= 3, s"round checkpoints left registered: $live")
  }
}
