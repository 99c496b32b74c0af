package graft.operators

import graft.GraftTestBase

class LabelPropagationSpec extends GraftTestBase {
  import spark.implicits._

  test("two dense cliques joined by one weak edge split into two communities") {
    // clique {1,2,3} and clique {10,11,12}, heavy internal edges,
    // one weight-1 bridge 3-10
    val edges = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (10L, 11L, 10L), (10L, 12L, 10L), (11L, 12L, 10L),
      (3L, 10L, 1L))
      .toDF("src", "dst", "w")
    val labels = LabelPropagation.run(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(labels.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    val left = Set(1L, 2L, 3L).map(labels)
    val right = Set(10L, 11L, 12L).map(labels)
    assert(left.size == 1, s"left clique split: $left")
    assert(right.size == 1, s"right clique split: $right")
    assert(left != right, "bridge merged the cliques")
  }

  test("self-loop-only nodes drop out; a bare pair oscillates (documented)") {
    val edges = Seq((1L, 2L, 5L), (3L, 3L, 9L)).toDF("src", "dst", "w")
    val labels = LabelPropagation.run(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    // 3 only ever had a self-loop (dropped) -> absent from the graph
    assert(labels.keySet == Set(1L, 2L))
    // synchronous LP on a symmetric pair swaps labels every round and
    // never converges — after an odd round count each holds the
    // other's label (the classic bipartite oscillation; real corpora
    // have triangles, which damp it)
    assert(labels(1L) == 2L && labels(2L) == 1L)
  }

  test("symmetrization: direction of input edges does not matter") {
    val ab = Seq((1L, 2L, 3L), (2L, 3L, 3L)).toDF("src", "dst", "w")
    val ba = Seq((2L, 1L, 3L), (3L, 2L, 3L)).toDF("src", "dst", "w")
    val la = LabelPropagation.run(ab, 3).as[(Long, Long)].collect().toSet
    val lb = LabelPropagation.run(ba, 3).as[(Long, Long)].collect().toSet
    assert(la == lb)
  }

  test("checkpointed deep loop equals the pure unrolled form") {
    val e = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 1L, 5L),
                (4L, 5L, 5L), (5L, 6L, 5L), (6L, 4L, 5L),
                (3L, 4L, 1L)).toDF("src", "dst", "w")
    val pure = LabelPropagation.run(e, 7).as[(Long, Long)].collect().toSet
    val ckpt = LabelPropagation.run(e, 7, checkpointEvery = 2)
      .as[(Long, Long)].collect().toSet
    assert(pure == ckpt)
  }

  test("local dispatch ≡ distributed path") {
    val e = ((0 until 30).flatMap { i =>
      Seq((i.toLong, ((i * 7 + 3) % 30).toLong, (i % 4 + 1).toLong),
          (i.toLong, ((i + 1) % 30).toLong, 2L))
    }).toDF("src", "dst", "w")
    val local = LabelPropagation.run(e, 5).as[(Long, Long)].collect().toSet
    val dist = LocalProbe.withCeilings(nodes = 0, edges = LocalProbe.MaxEdges)(
      LabelPropagation.run(e, 5).as[(Long, Long)].collect().toSet)
    assert(local == dist, s"local $local\n dist $dist")
  }
}
