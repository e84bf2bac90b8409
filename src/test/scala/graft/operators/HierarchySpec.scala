package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pointer-doubling hierarchy flattening: equal to the reference
  * single-hop walk on a binary tree, a deep chain (where doubling's
  * log-round count actually matters), and a forest with multiple
  * roots; saturation keeps already-rooted entries stable.
  */
class HierarchySpec extends SparkSpec {

  import spark.implicits._

  /** Driver-side reference: walk each id to its root one hop at a
    * time. */
  private def expected(ids: Seq[Long], parent: Long => Option[Long])
      : Set[(Long, Long, Long, Long)] =
    ids.map { id =>
      var cur = id; var depth = 0L; var sum = id
      var p = parent(cur)
      while (p.isDefined) { cur = p.get; depth += 1; sum += cur; p = parent(cur) }
      (id, cur, depth, sum)
    }.toSet

  private def run(ids: Seq[Long], parent: Long => Option[Long],
      maxDepth: Int): Set[(Long, Long, Long, Long)] = {
    val nodes = ids.toDF("id")
    val edges = ids.flatMap(id => parent(id).map(id -> _)).toDF("id", "parent")
    Hierarchy.flatten(nodes, edges, maxDepth)
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  test("binary tree: doubling equals the one-hop reference walk") {
    val ids = (0L until 200L).toSeq
    val parent = (id: Long) => if (id >= 1) Some(id / 2) else None
    assert(run(ids, parent, maxDepth = 16) == expected(ids, parent))
  }

  test("deep chain: 100 levels resolved in ceil(log2 128) = 7 doubling rounds") {
    val ids = (0L until 100L).toSeq
    val parent = (id: Long) => if (id >= 1) Some(id - 1) else None
    assert(run(ids, parent, maxDepth = 128) == expected(ids, parent))
  }

  test("forest: two roots, disjoint path sums; isolated node is its own root") {
    // root 0 with children 1,2; root 10 with chain 11->10, 12->11; 99 isolated
    val parents = Map[Long, Long](1L -> 0L, 2L -> 0L, 11L -> 10L, 12L -> 11L)
    val ids = Seq(0L, 1L, 2L, 10L, 11L, 12L, 99L)
    val parent = (id: Long) => parents.get(id)
    val got = run(ids, parent, maxDepth = 8)
    assert(got == expected(ids, parent), s"got $got")
    assert(got.contains((99L, 99L, 0L, 99L)), "isolated node roots itself")
    assert(got.contains((12L, 10L, 2L, 33L)), "12 + 11 + 10 path sum")
  }

  test("maxDepth 256: live checkpoint blocks stay at one round's jump table") {
    // 8 doubling rounds; every round but the last must be freed by the
    // call, not left to a later GC. Compared as id sets: the
    // ContextCleaner may drop OTHER entries during the call.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ids = (0L until 200L).toSeq
    val parent = (id: Long) => if (id >= 1) Some(id - 1) else None
    assert(run(ids, parent, maxDepth = 256) == expected(ids, parent))
    val live = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(live.size <= 1, s"round checkpoints left registered: $live")
  }
}
