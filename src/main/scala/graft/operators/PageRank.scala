package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed PageRank over an edge DataFrame (src, dst) — the
  * iterative-dataflow pattern (the same loop shape as KMeans and
  * ConnectedComponents, over a graph).
  *
  * Simplified formulation (no dangling-mass redistribution, matching
  * the fixed-iteration oracle exactly):
  *
  *   pr_0(n)     = 1.0
  *   pr_{k+1}(n) = (1 - d) + d * Σ_{m→n} pr_k(m) / outdeg(m)
  *
  * Each iteration is one join (ranks ⋈ edges on src) + one groupBy(dst)
  * — at scale both hash-partition on the same keys, and the edge table
  * (the big, static side) keeps a stable partitioning across
  * iterations so only the small rank vector moves. The static frames
  * (deduped edges, node set, out-degrees) are cached ONCE — without
  * that, every iteration's plan re-derives `distinct()` and the degree
  * aggregate from raw edges, and the unrolled lineage makes iteration k
  * cost O(k) recomputes (quadratic overall). Ranks are localCheckpointed
  * every [[checkpointEvery]] iterations: the plan is cut to a
  * materialized RDD, keeping analysis/codegen time and any recompute
  * bounded regardless of iteration count. Values are unchanged —
  * checkpointing only truncates lineage.
  *
  * Reference scope: the capstone has no graph/iterative operators at
  * all — this extends the engine the same way ConnectedComponents does
  * (SURVEY.md §7.4 extensions).
  */
object PageRank {

  /** Lineage-cut cadence: deep enough to amortize the materialization,
    * shallow enough that Catalyst never sees a 10-join-deep plan. */
  private val checkpointEvery = 5

  /** Ranks after `iters` iterations. Nodes = every distinct src or dst.
    * Returns (node, rank).
    *
    * Contract: this call is EAGER — the cache + localCheckpoint cadence
    * (and the final localCheckpoint that lets the cached inputs be
    * released) run Spark jobs at call time, so `run` returns a
    * materialized result, not a lazy plan. localCheckpoint trades fault
    * tolerance for speed: the checkpointed blocks live on executor
    * storage, so losing an executor mid-/post-run loses them and the
    * computation must be re-run from the source (acceptable for an
    * iterative fit; use reliable `checkpoint()` to a checkpoint dir if
    * the result must survive executor failure). Plan-only callers (e.g.
    * plan-shape inspection) should build their own loop without the
    * checkpoint cadence. */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val eDistinct = edges.select(col("src"), col("dst")).distinct()
    LocalProbe.collect(eDistinct, LocalProbe.Edges, strings = true) match {
      case Some(g) =>
        localRanks(eDistinct, localLoop(weighted(g), iters, damping, tp = null), g.decode)
      case None => runDistributed(eDistinct, iters, damping)
    }
  }

  private def runDistributed(eDistinct: DataFrame, iters: Int,
                             damping: Double): DataFrame = {
    val e = eDistinct.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()

    var ranks = nodes.withColumn("rank", lit(1.0))
    for (it <- 1 to iters) {
      val contribs = ranks
        .join(e, ranks("node") === e("src"))
        .join(outdeg, "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
      if (it % checkpointEvery == 0 && it < iters)
        ranks = ranks.localCheckpoint()
    }
    // Materialize the final ranks so the cached inputs can be released
    // without handing the caller a plan that would recompute them.
    val out = ranks.localCheckpoint()
    e.unpersist(); nodes.unpersist(); outdeg.unpersist()
    out
  }

  /** PERSONALIZED PageRank (Haveliwala 2002; the seed-propagation move
    * behind link-graph quality scoring à la "trusted seeds" curation):
    * the teleport mass lands only on the `seeds` set —
    *
    *   pr_0(n)     = tp(n)
    *   pr_{k+1}(n) = (1−d)·tp(n) + d·Σ_{m→n} pr_k(m)/outdeg(m)
    *
    * with tp(n) = 1/|S| on seeds, 0 elsewhere — so rank measures
    * proximity to the seed set, not global centrality. Same loop
    * shape, cadence, and eager contract as [[run]]; the single driver
    * scalar is |S| (the seed list is caller-curated and bounded by
    * definition). Returns (node, rank).
    */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int,
                   damping: Double = 0.85): DataFrame = {
    val eDistinct = edges.select(col("src"), col("dst")).distinct()
    val sdDistinct = seeds.select(col("node")).distinct()
    val sdT = sdDistinct.schema.fields(0).dataType
    (LocalProbe.collect(eDistinct, LocalProbe.Edges, strings = true),
      LocalProbe.collect(sdDistinct, LocalProbe.Nodes, keys = 1, strings = true)) match {
      case (Some(g), Some(sdRows)) if sdT == eDistinct.schema.fields(0).dataType =>
        val es = weighted(g)
        val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
        // seed values -> encoded node codes (out-of-graph seeds drop,
        // exactly like the distributed left-semi intersect)
        val decoded = nodes.map(n => g.decode(n) -> n).toMap
        val sd = sdRows.rows.flatMap(r => decoded.get(sdRows.decode(r(0)))).toSet
        require(sd.nonEmpty,
          "personalized PageRank needs a non-empty in-graph seed set")
        val tp = nodes.map(n =>
          n -> (if (sd(n)) 1.0 / sd.size else 0.0)).toMap
        localRanks(eDistinct, localLoop(es, iters, damping, tp), g.decode)
      case _ => personalizedDistributed(eDistinct, sdDistinct, iters, damping)
    }
  }

  private def personalizedDistributed(eDistinct: DataFrame,
                                      sdDistinct: DataFrame, iters: Int,
                                      damping: Double): DataFrame = {
    val e = eDistinct.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).cache()
    // teleport mass 1/|S| over seeds IN THE GRAPH: a seed absent from
    // the edge-derived node set would be dropped by the tp join below,
    // silently shrinking total teleport mass under 1 — intersect first
    // so out-of-graph seeds are ignored rather than diluting
    val sd = sdDistinct.join(nodes, Seq("node"), "left_semi").cache()
    val nSeeds = sd.count()
    require(nSeeds > 0,
      "personalized PageRank needs a non-empty in-graph seed set")
    val tp = nodes.join(sd.withColumn("__s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(1.0 / nSeeds)).otherwise(lit(0.0))
          .as("tp"))
      .localCheckpoint()

    var ranks = tp.select(col("node"), col("tp").as("rank"))
    for (it <- 1 to iters) {
      val contribs = ranks
        .join(e, ranks("node") === e("src"))
        .join(outdeg, "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      ranks = tp
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("tp") +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
      if (it % checkpointEvery == 0 && it < iters)
        ranks = ranks.localCheckpoint()
    }
    val out = ranks.localCheckpoint()
    e.unpersist(); nodes.unpersist(); outdeg.unpersist(); sd.unpersist()
    out
  }

  /** WEIGHTED PageRank over (src, dst, weight): mass flows along each
    * edge in proportion to its weight share of the source's total
    * out-weight — pr_{k+1}(n) = (1−d) + d·Σ_{m→n} pr_k(m)·w(m,n)/W(m).
    * Same loop shape and eager/localCheckpoint contract as [[run]];
    * duplicate (src, dst) rows are weight-summed first so the edge
    * relation stays one row per edge. Weight shares are exact-integer
    * ratios when weights are counts, so an unrolled SQL oracle replays
    * the ranks bit-for-bit under the same rounding. */
  def runWeighted(edges: DataFrame, iters: Int,
                  damping: Double = 0.85): DataFrame = {
    val eAgg = edges.groupBy("src", "dst")
      .agg(sum(col("weight")).as("w"))
    LocalProbe.collect(eAgg, LocalProbe.Edges, strings = true) match {
      case Some(g) =>
        localRanks(eAgg, localLoop(weighted(g), iters, damping, tp = null), g.decode)
      case None => runWeightedDistributed(eAgg, iters, damping)
    }
  }

  private def runWeightedDistributed(eAgg: DataFrame, iters: Int,
                                     damping: Double): DataFrame = {
    val e = eAgg.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    val outw = e.groupBy("src").agg(sum("w").as("tw")).cache()

    var ranks = nodes.withColumn("rank", lit(1.0))
    for (it <- 1 to iters) {
      val contribs = ranks
        .join(e, ranks("node") === e("src"))
        .join(outw, "src")
        .select(col("dst").as("node"),
          (col("rank") * col("w") / col("tw")).as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
      if (it % checkpointEvery == 0 && it < iters)
        ranks = ranks.localCheckpoint()
    }
    val out = ranks.localCheckpoint()
    e.unpersist(); nodes.unpersist(); outw.unpersist()
    out
  }

  // -----------------------------------------------------------------
  // Cost-dispatched LOCAL execution (guide §1.2 step 1): the rank loop
  // costs 2 joins + 1 aggregate + cadence checkpoints PER ITERATION —
  // the right shape for a corpus-sized graph, pure scheduling overhead
  // on a few-thousand-node one (the nation trade graphs: the 4-table
  // edge BUILD is the at-scale work and stays distributed; only the
  // loop over the deduped/aggregated edge relation moves). Under the
  // LocalProbe ceilings the exact same iteration runs on the driver:
  // same expressions ((1−d)+d·coalesce(mass,0), rank·w/tw with the
  // same cast order), same iteration count. Float caveat: a double
  // mass sum's addend ORDER is engine-defined everywhere (Spark's
  // partition order, DuckDB's scan order, this loop's (dst, src)
  // order) — consumers round(…, 6), which absorbs the ~1e-15 noise;
  // oracle-verified at all SFs like the unrolled CTE chains already
  // were. String keys (q428's word co-occurrence graph) are
  // dictionary-encoded to dense longs. Oversized, null-bearing or
  // non-integral, non-string-keyed graphs (and non-Long weights: double
  // weights keep the distributed sum order) take the distributed path
  // unchanged.

  /** Collected edges as (src, dst, w), w = 1 on an unweighted relation. */
  private def weighted(g: LocalProbe.Dense): Array[(Long, Long, Long)] =
    g.rows.map(r => (r(0), r(1), if (r.length > 2) r(2) else 1L))

  /** The exact local replay of the distributed loop. `tp` = null runs
    * the uniform-teleport variants (rank₀ = 1, base (1−d)); a teleport
    * map runs the personalized variant (rank₀ = tp, base (1−d)·tp).
    * Mass accumulates in (dst, src) order — fixed and deterministic. */
  private def localLoop(edges: Array[(Long, Long, Long)], iters: Int,
                        damping: Double, tp: Map[Long, Double])
      : Seq[(Long, Double)] = {
    val sorted = edges.sortBy(t => (t._2, t._1))
    val tw = mutable.HashMap.empty[Long, Long]
    edges.foreach { case (s, _, w) => tw.update(s, tw.getOrElse(s, 0L) + w) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var rank = mutable.HashMap.empty[Long, Double]
    nodes.foreach(n => rank.update(n, if (tp == null) 1.0 else tp(n)))
    for (_ <- 1 to iters) {
      val mass = mutable.HashMap.empty[Long, Double]
      sorted.foreach { case (s, d, w) =>
        mass.update(d, mass.getOrElse(d, 0.0) + rank(s) * w / tw(s))
      }
      val next = mutable.HashMap.empty[Long, Double]
      nodes.foreach { n =>
        val base =
          if (tp == null) 1.0 - damping else (1.0 - damping) * tp(n)
        next.update(n, base + damping * mass.getOrElse(n, 0.0))
      }
      rank = next
    }
    nodes.toSeq.map(n => n -> rank(n))
  }

  /** Ranks as a LocalRelation typed like the distributed output: the
    * node column takes the edge key type, nullable if either endpoint is. */
  private def localRanks(e: DataFrame, ranks: Seq[(Long, Double)],
                         dec: Long => Any): DataFrame = {
    val fs = e.schema.fields
    val schema = StructType(Seq(
      StructField("node", fs(0).dataType, fs(0).nullable || fs(1).nullable),
      StructField("rank", DoubleType, nullable = false)))
    val rows = ranks.map { case (n, r) => Row(dec(n), r) }
    e.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
