package graft.operators

import org.apache.spark.sql.Row

import graft.GraftTestBase

class RandomWalkSpec extends GraftTestBase {

  private def graph() = {
    import spark.implicits._
    // b and d are sinks; a/c/e have out-edges
    Seq((1, 2), (1, 3), (3, 2), (3, 4), (5, 1), (5, 3), (2, 5))
      .toDF("src", "dst")
  }

  test("every hop follows an edge; dead ends pad with null") {
    val edges = Set((1, 2), (1, 3), (3, 2), (3, 4), (5, 1), (5, 3), (2, 5))
    val out = RandomWalk.walks(graph(), steps = 3, salt = "t").collect()
    assert(out.length == 5) // one walk per distinct node
    out.foreach { r =>
      val hops = Seq(r.get(0), r.get(1), r.get(2), r.get(3))
        .map(Option(_).map(_.asInstanceOf[Int]))
      // consecutive non-null hops must be edges
      hops.sliding(2).foreach {
        case Seq(Some(a), Some(b)) => assert(edges((a, b)), s"$a->$b not an edge")
        case Seq(None, after)      => assert(after.isEmpty, "walk resumed after dead end")
        case _                     => ()
      }
    }
    // node 4 is a sink: its walk is all nulls
    val w4 = out.find(_.getInt(0) == 4).get
    assert(w4.isNullAt(1) && w4.isNullAt(2) && w4.isNullAt(3))
  }

  test("walks are deterministic across reruns and repartitionings") {
    def run(parts: Int): Seq[Row] =
      RandomWalk.walks(graph().repartition(parts), steps = 3, salt = "t")
        .orderBy("start").collect().toSeq
    assert(run(1) == run(7))
  }

  test("the hash-argmin draw conditions on the step index") {
    import spark.implicits._
    // 1 <-> 2: without the step index in the draw, the walk would
    // alternate deterministically or stick; with it, both happen only
    // as the per-step hashes dictate — assert the walk stays on edges
    // and is reproducible (regression pin of the draw input).
    val e = Seq((1, 2), (2, 1)).toDF("src", "dst")
    val a = RandomWalk.walks(e, steps = 4, salt = "t").orderBy("start").collect()
    val b = RandomWalk.walks(e, steps = 4, salt = "t").orderBy("start").collect()
    assert(a.toSeq == b.toSeq)
    a.foreach { r =>
      (0 to 3).foreach { i =>
        val cur = r.getInt(i); val nxt = r.getInt(i + 1)
        assert(math.abs(cur - nxt) == 1) // 1->2 or 2->1 only
      }
    }
  }

  test("local dispatch ≡ distributed path (bit-exact hops)") {
    import spark.implicits._
    val e = ((0 until 25).flatMap { i =>
      Seq((i, (i * 11 + 2) % 25), (i, (i * 3 + 7) % 25))
    } ++ Seq((25, 26))).toDF("src", "dst") // 26 is a dead end
    def rows() = RandomWalk.walks(e, steps = 4, salt = "eq")
      .orderBy("start").collect().map(_.toSeq).toSeq
    val local = rows()
    val dist = LocalProbe.withCeilings(nodes = 0, edges = LocalProbe.MaxEdges)(rows())
    assert(local == dist, s"local $local\n dist $dist")
  }
}
