package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftTestBase

class PageRankSpec extends GraftTestBase {

  test("hand-checkable 3-node graph") {
    import spark.implicits._
    // a -> b, a -> c, b -> c, c -> a
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r1 = PageRank.run(e, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // pr1(a) = .15 + .85*(pr0(c)/1) = 1.0
    // pr1(b) = .15 + .85*(pr0(a)/2) = 0.575
    // pr1(c) = .15 + .85*(pr0(a)/2 + pr0(b)/1) = 1.425
    assert(math.abs(r1("a") - 1.0) < 1e-12)
    assert(math.abs(r1("b") - 0.575) < 1e-12)
    assert(math.abs(r1("c") - 1.425) < 1e-12)
  }

  test("personalized: hand-checkable teleport, seed-proximity ordering") {
    import spark.implicits._
    // a -> b, a -> c, b -> c, c -> a; seed = {a} so tp(a)=1, tp(b)=tp(c)=0
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r1 = PageRank.personalized(e, seeds, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // pr0 = tp; pr1(a) = .15*1 + .85*(pr0(c)/1) = 0.15
    // pr1(b) = 0 + .85*(pr0(a)/2) = 0.425
    // pr1(c) = 0 + .85*(pr0(a)/2 + pr0(b)/1) = 0.425
    assert(math.abs(r1("a") - 0.15) < 1e-12)
    assert(math.abs(r1("b") - 0.425) < 1e-12)
    assert(math.abs(r1("c") - 0.425) < 1e-12)
    // with every node having out-edges, teleport+damping conserve mass:
    // sum(pr_k) = 1 at every k
    val r5 = PageRank.personalized(e, seeds, iters = 5).collect()
      .map(_.getDouble(1))
    assert(math.abs(r5.sum - 1.0) < 1e-9, s"mass drifted: ${r5.sum}")
    // a node unreachable from the seeds keeps rank exactly 0
    val e2 = Seq(("a", "b"), ("x", "y")).toDF("src", "dst")
    val r2 = PageRank.personalized(e2, seeds, iters = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r2("x") == 0.0 && r2("y") == 0.0,
      "rank leaked to a component disconnected from the seeds")
    assert(r2("b") > 0.0)
  }

  test("personalized: out-of-graph seeds are ignored, not mass-diluting") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    // "zz" is not a node: teleport must still be 1/1 over {a}, so the
    // ranks are identical to the seeds = {a} run and mass stays 1
    val seeds = Seq("a", "zz").toDF("node")
    val base = PageRank.personalized(e, Seq("a").toDF("node"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val withGhost = PageRank.personalized(e, seeds, iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    base.keySet.foreach { n =>
      assert(base(n) == withGhost(n), s"node $n diluted by ghost seed")
    }
    assert(math.abs(withGhost.values.sum - 1.0) < 1e-9)
    // an all-ghost seed set is an error, not a silent zero vector
    intercept[IllegalArgumentException] {
      PageRank.personalized(e, Seq("zz").toDF("node"), iters = 1)
    }
  }

  test("weighted run with uniform weights equals the unweighted run") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val ew = e.withColumn("weight", org.apache.spark.sql.functions.lit(7L))
    val plain = PageRank.run(e, iters = 4).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val weighted = PageRank.runWeighted(ew, iters = 4).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    plain.keySet.foreach { n =>
      assert(math.abs(plain(n) - weighted(n)) < 1e-12, s"node $n")
    }
  }

  test("weighted: mass follows the weight share, not the edge count") {
    import spark.implicits._
    // a sends 3/4 of its mass to b, 1/4 to c
    val e = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "weight")
    val r = PageRank.runWeighted(e, iters = 1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    // pr1(b) = .15 + .85 * (1.0 * 3/4); pr1(c) = .15 + .85 * (1.0 * 1/4)
    assert(math.abs(r("b") - (0.15 + 0.85 * 0.75)) < 1e-12)
    assert(math.abs(r("c") - (0.15 + 0.85 * 0.25)) < 1e-12)
    assert(math.abs(r("a") - 0.15) < 1e-12)
  }

  test("local dispatch ≡ distributed path (all three variants)") {
    import spark.implicits._
    // deterministic 40-node multigraph-ish edge set with hub skew
    val e = (0 until 40).flatMap { i =>
      Seq((i.toLong, ((i * 7 + 3) % 40).toLong, (i % 5 + 1).toLong),
          (i.toLong, ((i * 13 + 1) % 40).toLong, (i % 3 + 1).toLong),
          (i.toLong, 0L, 1L))
    }.toDF("src", "dst", "weight")
    val seeds = Seq(0L, 5L, 10L).toDF("node")
    def forcedDistributed[T](body: => T): T =
      LocalProbe.withCeilings(nodes = 0, edges = LocalProbe.MaxEdges)(body)
    // string-keyed twin (q428's word-graph shape): the local path
    // dictionary-encodes the keys
    val eStr = e.select(concat(lit("w"), col("src")).as("src"),
      concat(lit("w"), col("dst")).as("dst"), col("weight"))
    val seedsStr = seeds.select(concat(lit("w"), col("node")).as("node"))
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("run", () => PageRank.run(e, iters = 5)),
      ("weighted", () => PageRank.runWeighted(e, iters = 5)),
      ("personalized", () => PageRank.personalized(e, seeds, iters = 5)),
      ("run/str", () => PageRank.run(eStr, iters = 5)),
      ("weighted/str", () => PageRank.runWeighted(eStr, iters = 5)),
      ("personalized/str",
        () => PageRank.personalized(eStr, seedsStr, iters = 5)))
    for ((label, run) <- runs) {
      val local = run()
      val dist = forcedDistributed(run())
      assert(local.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        dist.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"$label schema diverged")
      val lm = local.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      val dm = dist.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      assert(lm.keySet == dm.keySet, s"$label node sets diverged")
      for ((n, lv) <- lm) {
        val dv = dm(n)
        assert(math.abs(lv - dv) <= 1e-12 * math.max(1.0, math.abs(dv)),
          s"$label rank diverged at node $n: local $lv vs distributed $dv")
      }
    }
  }

  test("mass is conserved when every node has out-edges") {
    import spark.implicits._
    val n = 20
    val e = (0 until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i + 7) % n))).toDF("src", "dst")
    val ranks = PageRank.run(e, iters = 8)
    val total = ranks.agg(sum("rank")).head.getDouble(0)
    // Σ pr = n(1-d) + d·Σ pr_prev = n at the fixed point (no dangling mass)
    assert(math.abs(total - n) < 1e-9, s"mass drifted: $total vs $n")
    // ring+chord is vertex-transitive: every node must converge equal
    val (mn, mx) = (ranks.agg(min("rank")).head.getDouble(0),
                    ranks.agg(max("rank")).head.getDouble(0))
    assert(mx - mn < 1e-9)
  }
}
