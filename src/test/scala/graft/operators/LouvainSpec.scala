package graft.operators

import org.apache.spark.sql.functions._

import graft.{GraftTestBase, Tables}

class LouvainSpec extends GraftTestBase {

  /** q429's symmetrized nation trade graph at sf0.001. */
  private def tradeEdges = {
    val t = Tables(spark, sf001)
    val e0 = t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("i"), col("s_nationkey").as("j"))
      .agg(count(lit(1)).as("c"))
    e0.select(col("i"), col("j"), col("c"))
      .union(e0.select(col("j"), col("i"), col("c")))
      .groupBy("i", "j").agg(sum("c").as("w"))
  }

  test("planted two-community graph is recovered exactly") {
    import spark.implicits._
    // two 4-cliques (weight 10 inside) joined by one weight-1 bridge
    val inA = for { a <- 0 to 3; b <- 0 to 3 if a != b } yield (a.toLong, b.toLong, 10L)
    val inB = for { a <- 4 to 7; b <- 4 to 7 if a != b } yield (a.toLong, b.toLong, 10L)
    val bridge = Seq((3L, 4L, 1L), (4L, 3L, 1L))
    val edges = (inA ++ inB ++ bridge).toDF("i", "j", "w")
    val comm = Louvain.cluster(edges, "i", "j", "w", rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).map(comm).toSet.size == 1, s"cluster A split: $comm")
    assert((4L to 7L).map(comm).toSet.size == 1, s"cluster B split: $comm")
    assert(comm(0L) != comm(4L), s"clusters merged: $comm")
  }

  test("phase-2 contraction never lowers Q (projected-modularity invariant)") {
    val edges = tradeEdges.localCheckpoint()
    val q1 = Louvain.modularity(edges, "i", "j", "w",
      Louvain.cluster(edges, "i", "j", "w", rounds = 8))
    val q2 = Louvain.modularity(edges, "i", "j", "w",
      Louvain.clusterLevels(edges, "i", "j", "w", rounds = 8, levels = 2))
    info(f"levels=1 Q=$q1%.4f levels=2 Q=$q2%.4f")
    assert(q2 >= q1 - 1e-12, s"levels=2 $q2 < levels=1 $q1")
  }

  /** The Traag et al. 2019 defect, planted: bridge node 0 sits between
    * two 2-cliques {1,2} and {3,4} (clique weight 2, bridge links 5)
    * and a magnet pair {5,6} (pair edge 7, bridge links 7). The fixed
    * schedule gathers 1 then 3 into node 0's community, the cliques
    * complete it, then the now-heavy community's degree penalty pushes
    * the bridge out to the magnet — stranding {1,2,3,4} under one
    * label with NO edge between {1,2} and {3,4}. The strand is STABLE:
    * every stranded member's only neighbor community is its own, so no
    * local move can ever heal it (verified: more rounds change
    * nothing). */
  private def strandedGraph = {
    import spark.implicits._
    val und = Seq((1L, 2L, 2L), (3L, 4L, 2L), (0L, 1L, 5L), (0L, 3L, 5L),
      (0L, 5L, 7L), (0L, 6L, 7L), (5L, 6L, 7L))
    (und ++ und.map { case (i, j, w) => (j, i, w) }).toDF("i", "j", "w")
  }

  test("refine splits a stranded disconnected community and lifts Q") {
    val edges = strandedGraph.localCheckpoint()
    val comm = Louvain.cluster(edges, "i", "j", "w", rounds = 12)
      .localCheckpoint()
    val raw = comm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // raw Louvain strands {1,2,3,4} as ONE community, {0,5,6} as the other
    assert(Seq(1L, 2L, 3L, 4L).map(raw).toSet.size == 1,
      s"plant did not strand: $raw")
    assert(Seq(0L, 5L, 6L).map(raw).toSet.size == 1, s"magnet split: $raw")
    assert(raw(0L) != raw(1L), s"everything merged: $raw")
    val refined = Louvain.refine(edges, "i", "j", comm)
    val ref = refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the stranded community splits into its two connected fragments
    assert(ref(1L) == ref(2L) && ref(3L) == ref(4L) && ref(1L) != ref(3L),
      s"refine did not split the strand: $ref")
    assert(Seq(0L, 5L, 6L).map(ref).toSet.size == 1,
      s"refine broke a connected community: $ref")
    val qRaw = Louvain.modularity(edges, "i", "j", "w", comm)
    val qRef = Louvain.modularity(edges, "i", "j", "w", refined)
    info(f"Q raw=$qRaw%.4f refined=$qRef%.4f")
    assert(qRef > qRaw, s"split did not lift Q: $qRef <= $qRaw")
  }

  test("refine is the identity (up to min-member relabel) on connected communities") {
    val edges = tradeEdges.localCheckpoint()
    val comm = Louvain.cluster(edges, "i", "j", "w", rounds = 12)
      .localCheckpoint()
    val refined = Louvain.refine(edges, "i", "j", comm)
    // same partition: the (community, refined) pairing is one-to-one
    val pairing = comm.join(refined.withColumnRenamed("community", "ref"), "id")
      .select(col("community").cast("long"), col("ref").cast("long"))
      .distinct().collect()
    assert(pairing.map(_.getLong(0)).distinct.length == pairing.length &&
      pairing.map(_.getLong(1)).distinct.length == pairing.length,
      s"refine changed a connected partition: ${pairing.mkString(",")}")
    val qRaw = Louvain.modularity(edges, "i", "j", "w", comm)
    val qRef = Louvain.modularity(edges, "i", "j", "w", refined)
    assert(math.abs(qRef - qRaw) < 1e-12, s"relabel moved Q: $qRaw -> $qRef")
  }

  test("true Leiden schedule: refined two-level Q >= plain two-level Q on the strand") {
    val edges = strandedGraph.localCheckpoint()
    val plain = Louvain.clusterLevels(edges, "i", "j", "w",
      rounds = 12, levels = 2)
    val leiden = Louvain.clusterLevelsRefined(edges, "i", "j", "w",
      rounds = 12, levels = 2)
    val qPlain = Louvain.modularity(edges, "i", "j", "w", plain)
    val qLeiden = Louvain.modularity(edges, "i", "j", "w", leiden)
    info(f"two-level Q plain=$qPlain%.4f leiden=$qLeiden%.4f")
    assert(qLeiden >= qPlain - 1e-12,
      s"refined schedule lost Q: $qLeiden < $qPlain")
    // on the planted strand the plain schedule bakes the disconnected
    // {1,2,3,4} community into one unsplittable supernode, so the
    // refined schedule is STRICTLY better here
    assert(qLeiden > qPlain, s"strand not exploited: $qLeiden <= $qPlain")
    // and the refined labels keep the fragments coherent
    val ref = leiden.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ref(1L) == ref(2L) && ref(3L) == ref(4L),
      s"fragments split further: $ref")
  }

  test("clusterLevelsRefined equals the inlined phase composition (pins q451)") {
    val a = tradeEdges.localCheckpoint()
    val op = Louvain.clusterLevelsRefined(a, "i", "j", "w",
      rounds = 6, levels = 2)
    val ref1 = Louvain.refine(a, "i", "j",
      Louvain.cluster(a, "i", "j", "w", 6)).localCheckpoint()
    val e2 = Louvain.contract(a, "i", "j", "w", ref1).localCheckpoint()
    val ref2 = Louvain.refine(e2, "i", "j",
      Louvain.cluster(e2, "i", "j", "w", 6))
    val composed = ref1.select(col("id"), col("community").as("__m"))
      .join(ref2.select(col("id").as("__m"), col("community")), Seq("__m"))
      .select(col("id"), col("community"))
    assert(op.exceptAll(composed).isEmpty && composed.exceptAll(op).isEmpty,
      "operator loop diverged from the inlined schedule")
  }

  test("resolution γ: γ=1 is the default chain, γ large yields singletons, γ<1 coarsens") {
    val edges = strandedGraph.localCheckpoint()
    val default = Louvain.cluster(edges, "i", "j", "w", rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g11 = Louvain.cluster(edges, "i", "j", "w", rounds = 12,
        gammaNum = 1L, gammaDen = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g11 == default, "γ=1/1 diverged from the default gain")
    // γ=16: no first move has positive gain — everyone stays a singleton
    val g16 = Louvain.cluster(edges, "i", "j", "w", rounds = 12,
        gammaNum = 16L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g16.forall { case (i, c) => i == c }, s"γ=16 moved: $g16")
    // γ=1/2: the degree penalty halves and the whole graph coalesces
    val gHalf = Louvain.cluster(edges, "i", "j", "w", rounds = 12,
        gammaDen = 2L)
      .collect().map(r => r.getLong(1)).toSet
    assert(gHalf.size == 1, s"γ=1/2 left ${gHalf.size} communities")
  }

  /** Run `body` with the local cost dispatch forced OFF (every entry
    * point takes the distributed path). */
  private def forcedDistributed[T](body: => T): T =
    LocalProbe.withCeilings(nodes = 0, edges = LocalProbe.MaxEdges)(body)

  private def collected(df: org.apache.spark.sql.DataFrame) =
    (df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq)

  test("local dispatch ≡ distributed path on every entry point") {
    val graphs = Seq(
      "strand" -> strandedGraph.localCheckpoint(),
      "trade" -> tradeEdges.localCheckpoint())
    for ((name, edges) <- graphs) {
      // cluster at γ = 1, 2, 1/2; levels; refined levels
      val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        ("cluster", () => Louvain.cluster(edges, "i", "j", "w", 12)),
        ("cluster γ=2", () => Louvain.cluster(edges, "i", "j", "w", 12,
          gammaNum = 2L)),
        ("cluster γ=1/2", () => Louvain.cluster(edges, "i", "j", "w", 12,
          gammaDen = 2L)),
        ("levels", () => Louvain.clusterLevels(edges, "i", "j", "w", 6, 2)),
        ("levelsRefined", () => Louvain.clusterLevelsRefined(
          edges, "i", "j", "w", 6, 2)),
        ("refine", () => Louvain.refine(edges, "i", "j",
          Louvain.cluster(edges, "i", "j", "w", 12).localCheckpoint())),
        ("contract", () => Louvain.contract(edges, "i", "j", "w",
          Louvain.cluster(edges, "i", "j", "w", 12).localCheckpoint())))
      for ((label, run) <- runs) {
        val local = collected(run())
        val dist = forcedDistributed(collected(run()))
        assert(local._1 == dist._1,
          s"$name/$label schema diverged: ${local._1} vs ${dist._1}")
        assert(local._2 == dist._2,
          s"$name/$label rows diverged:\n local=${local._2}\n dist=${dist._2}")
      }
    }
  }

  test("oversized or null-bearing inputs fall back to the distributed path") {
    import spark.implicits._
    // a null id must take the distributed path (and keep its null row)
    val withNull = Seq((Some(1L), Some(2L), 3L), (None, Some(1L), 1L))
      .toDF("i", "j", "w")
    val comm = Louvain.cluster(withNull, "i", "j", "w", 2).collect()
    assert(comm.exists(_.isNullAt(0)), "distributed null-group row lost")
    // an edge ceiling of 0 disables the local path outright
    val tiny = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("i", "j", "w")
    LocalProbe.withCeilings(nodes = LocalProbe.MaxNodes, edges = 0) {
      val out = Louvain.cluster(tiny, "i", "j", "w", 1)
      assert(out.queryExecution.optimizedPlan.collectLeaves().exists(
        !_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "ceiling 0 still produced a LocalRelation result")
    }
  }

  test("Q is non-decreasing per round and beats the region partition") {
    val edges = tradeEdges.localCheckpoint()
    val qs = Seq(0, 1, 2, 3, 4, 6, 8, 12).map { r =>
      r -> Louvain.modularity(edges, "i", "j", "w",
        Louvain.cluster(edges, "i", "j", "w", r))
    }
    info(qs.map { case (r, q) => f"r$r=$q%.4f" }.mkString(" "))
    qs.sliding(2).foreach {
      case Seq((_, q1), (r, q2)) =>
        assert(q2 >= q1 - 1e-12, s"round $r decreased Q: $q2 < $q1")
      case _ =>
    }
    val t = Tables(spark, sf001)
    val reg = t("nation")
      .select(col("n_nationkey").as("id"),
        col("n_regionkey").cast("long").as("community"))
    val qReg = Louvain.modularity(edges, "i", "j", "w", reg)
    info(f"region partition Q=$qReg%.4f vs louvain ${qs.last._2}%.4f")
    assert(qs.last._2 > qReg,
      s"louvain ${qs.last._2} did not beat region $qReg")
  }
}
