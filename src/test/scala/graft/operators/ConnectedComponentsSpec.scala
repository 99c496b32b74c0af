package graft.operators

import graft.GraftTestBase

class ConnectedComponentsSpec extends GraftTestBase {
  import spark.implicits._

  test("transitive chains, cycles, and disjoint pairs resolve to min-id components") {
    // chain 1-2-3, pair 10-11, cycle 20-21-22: endpoints that never
    // share an edge (1 and 3) must still land in one component
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("a", "b")
    val cc = ConnectedComponents.components(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                     10L -> 10L, 11L -> 10L,
                     20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("empty edge set returns an empty labeling (no NPE from the sum check)") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.components(edges, "a", "b").count() == 0)
  }

  test("a long path needs multiple propagation rounds and still converges") {
    val n = 40 // diameter 40 path: well past one or two join rounds
    val edges = (0L until n).map(i => (i, i + 1)).toDF("a", "b")
    val cc = ConnectedComponents.components(edges, "a", "b", maxIters = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length.toLong == n + 1 && cc.forall(_._2 == 0L))
  }

  test("local dispatch ≡ distributed path: same rows on a planted graph") {
    // self-pairs (vertex presence only), duplicates, reversed edges, a
    // chain, a cycle, and int (not long) id columns — the full surface
    // the local union-find must reproduce bit-for-bit
    val edges = Seq((1, 2), (2, 1), (2, 3), (7, 7), (10, 11), (10, 11),
        (20, 21), (21, 22), (22, 20))
      .toDF("a", "b")
    val local = ConnectedComponents.components(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = LocalProbe.withCeilings(nodes = LocalProbe.MaxNodes, edges = 0)(
      ConnectedComponents.components(edges, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
    assert(local.sameElements(dist), s"local ${local.toSeq} vs distributed ${dist.toSeq}")
    assert(local.toMap.apply(7L) == 7L) // self-pair-only vertex keeps its id
    assert(local.toMap.apply(3L) == 1L)
  }

  test("relations over the local ceiling take the distributed path") {
    // ceiling 2 < 3 distinct normalized pairs → distributed; result identical
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val cc = LocalProbe.withCeilings(nodes = LocalProbe.MaxNodes, edges = 2)(
      ConnectedComponents.components(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
