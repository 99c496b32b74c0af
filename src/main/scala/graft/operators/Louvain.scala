package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Greedy modularity optimization over a weighted graph — the
  * OPTIMIZER half of q429's scorer (which evaluates a GIVEN
  * partition): Louvain-style local moves (Blondel et al. 2008)
  * under the fixed-round discipline of [[LabelPropagation]], never
  * until-fixpoint.
  *
  * Move rule per round (all relational, all deterministic):
  *   1. every node i computes the EXACT integer modularity gain of
  *      moving from its community a to each neighbor community b:
  *      with Q in q429's ordered-pair convention, ΔQ · m2²/2 =
  *      G = (w(i,b) − w(i,a∖i))·m2 − k_i·(D_b − D_a + k_i) — pure
  *      Long arithmetic off integer edge weights, so the argmax is
  *      float-free (at masses where these products could pass 2^63
  *      the q429 DECIMAL(38,0) note applies verbatim);
  *   2. per node, the best positive move under the total order
  *      (G desc, b asc);
  *   3. LOCALLY-DOMINANT selection (the Manne–Bisseling parallel
  *      matching rule): a move survives only if it out-ranks — under
  *      the global order (G desc, i asc, b asc) — every other
  *      candidate move touching either of its two communities.
  *      Surviving moves therefore touch pairwise-DISJOINT community
  *      sets, and disjoint single-node moves have exactly ADDITIVE
  *      ΔQ (each move's w(i,·) and D_· terms are untouched by the
  *      others), so the round's total Q change is a sum of positive
  *      exact gains: Q is NON-DECREASING by construction — the
  *      property a free-for-all parallel Louvain round cannot
  *      guarantee (two simultaneous movers into each other's
  *      communities can oscillate);
  *   4. apply the survivors, localCheckpoint (cut the per-round
  *      lineage exactly as the other iterative graph operators).
  *
  * The globally best move always survives rule 3, so progress is
  * made whenever any positive move exists; fixed `rounds` bounds the
  * work (a round with no positive move is the identity). 100 TB
  * shape: each round is two hash-aggregates (D_c, w(i,c)), a handful
  * of equi-joins, and two window ranks — no collect, no all-pairs;
  * convergence speed scales with how many disjoint community pairs
  * improve per round (many, on a large graph).
  *
  * Reference scope: the reference repo has no graph operators at all
  * (SURVEY.md §2.9); this extends the graph family (components,
  * PageRank, HITS, label propagation, q429/q430 diagnostics).
  */
object Louvain {

  import LocalProbe.fromLong

  /** Materialize AND reset plan statistics. localCheckpoint alone cuts
    * the lineage but PROPAGATES the checkpointed plan's sizeInBytes —
    * and a loop whose state frame appears ~6 times per round makes
    * that estimate a PRODUCT of products: the BigInt's digit count
    * grows ~6× per round and Catalyst stats evaluation itself becomes
    * the bottleneck (observed: minutes inside BigInteger.multiply by
    * round 8 — the stats, not the data). Rebuilding from the
    * checkpointed RDD resets the leaf to the constant
    * defaultSizeInBytes, so every round plans against bounded stats.
    * Cost: one InternalRow↔Row conversion over the NODE frame (not
    * the edges) per round. */
  private def cutStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Communities after `rounds` of locally-dominant moves.
    *
    * `edges`: ORDERED-pair weights (srcCol, dstCol, wCol) with BOTH
    * directions present (q429's symmetrized-count convention — build
    * it once, reuse for scoring). Self-loops are handled (they arise
    * on [[contract]]ed graphs: a supernode's internal mass rides as
    * w(i,i), counts toward its degree, and is EXCLUDED from the
    * move-gain's own-community term — it moves with the node and
    * cancels in ΔQ). Initial communities are the node ids.
    * Output: (id, community).
    *
    * @param gammaNum,gammaDen Reichardt–Bornholdt resolution γ as an
    *   EXACT RATIONAL (default 1/1 = classic modularity): the gain
    *   generalizes to G = den·(w_ib − w_ia)·m2 − num·k_i·(D_b − D_a +
    *   k_i) — multiplying through by den keeps every term a Long, so
    *   the argmax stays float-free at any γ. Larger γ penalizes
    *   degree mass harder → finer communities (γ→∞ leaves every node
    *   a singleton: no positive move exists); smaller γ → coarser. */
  def cluster(edges: DataFrame, srcCol: String, dstCol: String,
              wCol: String, rounds: Int,
              gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    require(gammaNum > 0 && gammaDen > 0, "γ must be a positive rational")
    val e = edges.select(col(srcCol).as("i"), col(dstCol).as("j"),
      col(wCol).cast("long").as("w"))
    localGraph(e) match {
      case Some(le) =>
        val comm = localMoves(le, rounds, gammaNum, gammaDen)
        val iF = e.schema.fields(0)
        localResult(e.sparkSession, comm.toSeq.sortBy(_._1),
          iF, iF.dataType)
      case None => clusterDistributed(e, rounds, gammaNum, gammaDen)
    }
  }

  private def clusterDistributed(e: DataFrame, rounds: Int,
                                 gammaNum: Long, gammaDen: Long): DataFrame = {
    // static per-node degree mass and total weight (moves never
    // change either) — computed once, reused every round; the
    // self-loop mass (contracted graphs) is likewise static
    val deg = e.groupBy("i").agg(sum("w").as("k")).localCheckpoint()
    val selfw = e.filter(col("i") === col("j"))
      .select(col("i"), col("w").as("wself")).localCheckpoint()
    val m2 = deg.agg(sum("k").as("m2"))
    var comm = cutStats(deg.select(col("i"), col("i").as("c")))
    var converged = false
    for (_ <- 0 until rounds if !converged) {
      // w(i, community-of-j): one aggregate over the edge list
      val wic = e.join(comm.select(col("i").as("__j"), col("c").as("b")),
          col("j") === col("__j"))
        .groupBy("i", "b").agg(sum("w").as("wib"))
        .localCheckpoint() // feeds the candidate chain AND the D_c
        // masses (measured: dropping this and relying on ReuseExchange
        // re-ran the edge join per consumer — 1.4x slower per round)
      // community degree mass from wic itself: both edge directions are
      // present, so Σ_i w(i,b) = Σ_{j∈b} (incoming mass of j) = D_b —
      // no second comm⋈deg aggregation pass per round
      val dc = wic.groupBy("b").agg(sum("wib").as("d"))
        .select(col("b").as("c"), col("d"))
      val cand = wic
        .join(comm, "i")
        // own-community weight via a window over the SAME i-keyed
        // partitioning the comm join just established (wib is unique
        // per (i,b), so the max picks the single b=c row); null when
        // i has no within-community edges. Computed BEFORE dropping
        // the b=c rows it reads from.
        .withColumn("wia", max(when(col("b") === col("c"), col("wib")))
          .over(Window.partitionBy("i")))
        .filter(col("c") =!= col("b"))
        // own-community weight EXCLUDES the node's self-loop (it moves
        // with the node, so it must not count as mass left behind)
        .join(selfw, Seq("i"), "left")
        .withColumn("wia",
          coalesce(col("wia"), lit(0L)) - coalesce(col("wself"), lit(0L)))
        .join(deg, "i")
        .join(dc.select(col("c").as("__b2"), col("d").as("db")),
          col("b") === col("__b2"))
        .join(dc.select(col("c").as("__c2"), col("d").as("da")),
          col("c") === col("__c2"))
        .crossJoin(broadcast(m2))
        .select(col("i"), col("c").as("a"), col("b"),
          (lit(gammaDen) * (col("wib") - col("wia")) * col("m2") -
            lit(gammaNum) * col("k") *
              (col("db") - col("da") + col("k"))).as("g"))
        .filter(col("g") > 0)
      val wBest = Window.partitionBy("i").orderBy(col("g").desc, col("b"))
      val best = cand.withColumn("__rb", row_number().over(wBest))
        .filter(col("__rb") === 1).drop("__rb")
      // global priority as a comparable struct (−g, i, b) — min per
      // touched community replaces a global row_number, so there is
      // NO single-partition sort anywhere in the round
      val ranked = best
        .withColumn("pri", struct((-col("g")).as("ng"), col("i"), col("b")))
        .localCheckpoint() // feeds the touched-community min AND the filter
      // EARLY EXIT, identity-preserving: no positive-gain candidate
      // means no move this round — and since the state is unchanged,
      // none in any later round either; the remaining fixed rounds
      // are identities (the unrolled oracle replays them as such, so
      // results are byte-identical with or without the exit). One
      // cheap isEmpty on the already-materialized candidate frame.
      if (ranked.isEmpty) converged = true
      else {
        val tmin = ranked
        .select(col("pri"), explode(array(col("a"), col("b"))).as("tc"))
        .groupBy("tc").agg(min("pri").as("mn"))
        val movers = ranked
          .join(tmin.select(col("tc").as("a"), col("mn").as("mna")), Seq("a"))
          .join(tmin.select(col("tc").as("b"), col("mn").as("mnb")), Seq("b"))
          .filter(col("pri") === col("mna") && col("pri") === col("mnb"))
          .select(col("i"), col("b"))
        comm = cutStats(
          comm.join(movers.select(col("i"), col("b")), Seq("i"), "left")
            .select(col("i"), coalesce(col("b"), col("c")).as("c")))
      }
    }
    comm.select(col("i").as("id"), col("c").as("community"))
  }

  /** Phase 2 of Blondel et al.: CONTRACT each community to a
    * supernode — edge mass re-keyed by community on both endpoints,
    * so within-community mass becomes the supernode's self-loop.
    * Modularity of a partition of the contracted graph equals
    * modularity of its projection onto the original graph (the
    * classic Louvain invariant), which is what makes further moves on
    * the contracted graph legitimate Q improvements. One double join
    * + hash-agg; the contracted graph is communities², bounded by the
    * current community count, not the corpus. */
  def contract(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, comm: DataFrame): DataFrame = {
    val e0 = edges.select(col(srcCol).as("i"), col(dstCol).as("j"),
      col(wCol).cast("long").as("w"))
    (localComm(comm), localGraph(e0)) match {
      case (Some(cm), Some(le)) =>
        val cT = comm.schema.fields(
          comm.schema.fieldIndex("community")).dataType
        val contracted = localContract(le, cm).sortBy(t => (t._1, t._2))
        val schema = StructType(Seq(
          StructField("i", cT, nullable = true),
          StructField("j", cT, nullable = true),
          StructField("w", LongType, nullable = true)))
        val rows = contracted.map { case (i, j, w) =>
          Row(fromLong(i, cT), fromLong(j, cT), w) }
        comm.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case _ => contractDistributed(e0, comm)
    }
  }

  private def contractDistributed(e: DataFrame, comm: DataFrame): DataFrame = {
    e.join(comm.select(col("id").as("i"), col("community").as("ci")),
        Seq("i"))
      .join(comm.select(col("id").as("j"), col("community").as("cj")),
        Seq("j"))
      .groupBy(col("ci").as("i"), col("cj").as("j"))
      .agg(sum("w").as("w"))
  }

  /** FULL Louvain: `levels` alternations of local-move rounds and
    * contraction, final labels projected back through every level.
    * Q is non-decreasing across the whole schedule: within a level by
    * the locally-dominant rule, and across the contraction boundary
    * because contracted-graph moves improve the PROJECTED partition's
    * Q by the [[contract]] invariant (a level with no positive move
    * is the identity). Output: (id, community) on the ORIGINAL ids. */
  def clusterLevels(edges: DataFrame, srcCol: String, dstCol: String,
                    wCol: String, rounds: Int, levels: Int): DataFrame = {
    require(levels >= 1)
    val e0 = edges.select(col(srcCol).as("i"), col(dstCol).as("j"),
      col(wCol).cast("long").as("w"))
    localGraph(e0) match {
      case Some(le) =>
        var eArr = le
        var mapping: Map[Long, Long] = null
        for (l <- 0 until levels) {
          val comm = localMoves(eArr, rounds, 1L, 1L)
          mapping =
            if (mapping == null) comm.toMap
            // inner-join composition, like the distributed mapping join
            else mapping.flatMap { case (id, m) => comm.get(m).map(id -> _) }
          if (l < levels - 1) eArr = localContract(eArr, comm)
        }
        val iF = e0.schema.fields(0)
        localResult(e0.sparkSession, mapping.toSeq.sortBy(_._1),
          iF, iF.dataType)
      case None => clusterLevelsDistributed(e0, rounds, levels)
    }
  }

  private def clusterLevelsDistributed(e0: DataFrame, rounds: Int,
                                       levels: Int): DataFrame = {
    var e = e0
    var mapping: DataFrame = null
    for (l <- 0 until levels) {
      val comm = cluster(e, "i", "j", "w", rounds)
      mapping =
        if (mapping == null) cutStats(comm)
        else cutStats(mapping
          .select(col("id"), col("community").as("__mid"))
          .join(comm.select(col("id").as("__mid"),
            col("community")), Seq("__mid"))
          .select(col("id"), col("community")))
      if (l < levels - 1)
        e = cutStats(contract(e, "i", "j", "w", comm))
    }
    mapping
  }

  /** The TRUE LEIDEN schedule (Traag et al. 2019, Alg. 1): per level,
    * local moves → [[refine]] → contract the REFINED partition —
    * refinement sits BETWEEN the move and contraction phases, so the
    * aggregated graph's supernodes are guaranteed-connected fragments
    * ([[clusterLevels]] contracts the unrefined partition instead,
    * which can bake a disconnected community into one supernode that
    * no later level can split). Q is non-decreasing across the whole
    * schedule: moves by the locally-dominant rule, refinement by the
    * Σ D_c² argument on [[refine]], contraction by the projection
    * invariant on [[contract]]. Fragments of a refined community start
    * the next level as singleton supernodes; positive-gain moves
    * re-merge the ones that belong together (on a connected community
    * the schedule degenerates to [[clusterLevels]] exactly). Output:
    * (id, community) on the ORIGINAL ids, labels = refined fragment
    * mins of the last level projected down. */
  def clusterLevelsRefined(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, rounds: Int, levels: Int)
      : DataFrame = {
    require(levels >= 1)
    val e0 = edges.select(col(srcCol).as("i"), col(dstCol).as("j"),
      col(wCol).cast("long").as("w"))
    localGraph(e0) match {
      case Some(le) =>
        var eArr = le
        var mapping: Map[Long, Long] = null
        for (l <- 0 until levels) {
          val moved = localMoves(eArr, rounds, 1L, 1L)
          val comm = localRefine(eArr.map(t => (t._1, t._2)), moved)
          mapping =
            if (mapping == null) comm.toMap
            else mapping.flatMap { case (id, m) => comm.get(m).map(id -> _) }
          if (l < levels - 1) eArr = localContract(eArr, comm)
        }
        val iF = e0.schema.fields(0)
        // refine labels are ConnectedComponents labels → LongType,
        // exactly like the distributed schedule's mapping
        localResult(e0.sparkSession, mapping.toSeq.sortBy(_._1),
          iF, LongType)
      case None => clusterLevelsRefinedDistributed(e0, rounds, levels)
    }
  }

  private def clusterLevelsRefinedDistributed(e0: DataFrame, rounds: Int,
                                              levels: Int): DataFrame = {
    var e = e0
    var mapping: DataFrame = null
    for (l <- 0 until levels) {
      val moved = cluster(e, "i", "j", "w", rounds)
      val comm = refine(e, "i", "j", moved)
      mapping =
        if (mapping == null) cutStats(comm)
        else cutStats(mapping
          .select(col("id"), col("community").as("__mid"))
          .join(comm.select(col("id").as("__mid"),
            col("community")), Seq("__mid"))
          .select(col("id"), col("community")))
      if (l < levels - 1)
        e = cutStats(contract(e, "i", "j", "w", comm))
    }
    mapping
  }

  /** LEIDEN-STYLE connectivity refinement (the fix for Traag et al.
    * 2019's defect report on Louvain: a bridge node can move away and
    * strand its old community in pieces that keep one label — the
    * stranded members' only neighbor community is then their OWN, so
    * no local move can ever heal it). Per final community, relabel
    * each connected FRAGMENT of the community-induced subgraph with
    * its min member id. One global [[ConnectedComponents]] pass over
    * the within-community edge set does all communities at once
    * (cross-community edges are filtered, so fragments of different
    * communities cannot link), and the min-id labels are globally
    * unique because fragments are disjoint node sets.
    *
    * Q never decreases: a split removes NO within-community edge mass
    * (fragments have zero edges between them by definition) while
    * Σ D_c² strictly drops whenever a community actually splits
    * ((d₁+d₂)² > d₁² + d₂² for positive degree masses) — so refined
    * Q is ≥ the input partition's Q, strictly greater iff some
    * community was internally disconnected. A connected community
    * comes back as one fragment (pure relabel to min member id).
    *
    * Input comm: (id, community); output: (id, community) with
    * fragment labels — a drop-in replacement for [[cluster]]'s
    * output. Members with no within-community edge (isolated in
    * their community) become their own singleton. */
  def refine(edges: DataFrame, srcCol: String, dstCol: String,
             comm: DataFrame): DataFrame = {
    (localComm(comm), LocalProbe.collect(
        edges.select(col(srcCol).as("i"), col(dstCol).as("j")),
        LocalProbe.Pairs, sameType = false)) match {
      case (Some(cm), Some(pairs)) =>
        val refined = localRefine(pairs.pairs, cm)
        // every comm id, fragment labels (LongType, like the CC pass)
        localResult(comm.sparkSession,
          cm.keys.toSeq.sorted.map(id => id -> refined(id)), comm.schema("id"), LongType)
      case _ => refineDistributed(edges, srcCol, dstCol, comm)
    }
  }

  private def refineDistributed(edges: DataFrame, srcCol: String,
                                dstCol: String, comm: DataFrame): DataFrame = {
    val e = edges.select(col(srcCol).as("i"), col(dstCol).as("j"))
      .filter(col("i") =!= col("j"))
    val within = e
      .join(comm.select(col("id").as("i"), col("community").as("__ci")),
        Seq("i"))
      .join(comm.select(col("id").as("j"), col("community").as("__cj")),
        Seq("j"))
      .filter(col("__ci") === col("__cj"))
      .select("i", "j")
    val cc = ConnectedComponents.components(within, "i", "j")
    comm.select(col("id"))
      .join(cc.select(col("id"), col("component")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("community"))
  }

  // -----------------------------------------------------------------
  // Cost-dispatched LOCAL execution. The distributed round loop costs
  // a fixed number of shuffles, windows and eager checkpoints PER
  // ROUND — the right 100 TB shape, but pure scheduling overhead when
  // the graph is a few thousand nodes (a per-key aggregate like the
  // nation trade graph, or any contracted level). Guide §1.2 step 1 +
  // §2 (scale-adaptive, not constant): like Spark's broadcast
  // threshold and RowIndexer's window dispatch, every entry point
  // probes the input once and, under the LocalProbe ceilings, runs
  // the EXACT same move schedule on the driver — same integer gains,
  // same (g desc, b asc) per-node argmax, same (−g, i, b)
  // locally-dominant rule, same early exit — producing the identical
  // (id, community) relation as a LocalRelation. Inputs that exceed
  // the ceilings, carry nulls, non-integral id types, or duplicate
  // self-loop rows take the distributed path unchanged.

  /** (id, community) rows → LocalRelation with the id column's
    * name/type taken from `idField` and the community column typed
    * `cType` (the distributed plans yield the id type for move labels
    * and LongType for ConnectedComponents fragment labels). */
  private def localResult(spark: SparkSession, rows: Seq[(Long, Long)],
                          idField: StructField, cType: DataType): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", idField.dataType, idField.nullable),
      StructField("community", cType, nullable = true)))
    val out = rows.map { case (id, c) =>
      Row(fromLong(id, idField.dataType), fromLong(c, cType)) }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** The (i, j, w-long) edge relation under the local ceilings (its
    * distinct endpoints are its distinct sources under the both-directions
    * input contract), unless a self-loop row repeats (the distributed selfw join would multiply
    * candidate rows on those — never legitimate input, but the fallback
    * preserves whatever the distributed plan does). */
  private def localGraph(e: DataFrame): Option[Array[(Long, Long, Long)]] =
    LocalProbe.collect(e, LocalProbe.Edges, sameType = false).map(_.triples)
      .filter { rows =>
        val selfSeen = mutable.HashSet.empty[Long]
        rows.forall { case (i, j, _) => i != j || selfSeen.add(i) }
      }

  /** The (id, community) relation as an id → community map under the
    * node ceiling, unless an id repeats (duplicates would multiply join
    * rows — fall back to whatever the distributed plan does). */
  private def localComm(comm: DataFrame): Option[Map[Long, Long]] =
    LocalProbe.collect(comm.select(col("id"), col("community")),
        LocalProbe.Nodes, sameType = false)
      .map(_.pairs)
      .filter(ps => ps.iterator.map(_._1).distinct.size == ps.length)
      .map(_.toMap)

  /** The EXACT local replay of [[clusterDistributed]]'s fixed-round
    * loop: per round wic/dc aggregates, integer gains, per-node best
    * under (g desc, b asc), locally-dominant survivors under the
    * (−g, i, b) struct minimum per touched community, early exit when
    * no positive move exists. Returns id → community. */
  private def localMoves(edges: Array[(Long, Long, Long)], rounds: Int,
                         gammaNum: Long, gammaDen: Long)
      : mutable.HashMap[Long, Long] = {
    val deg = mutable.HashMap.empty[Long, Long]
    edges.foreach { case (i, _, w) =>
      deg.update(i, deg.getOrElse(i, 0L) + w) }
    val selfw = mutable.HashMap.empty[Long, Long]
    edges.foreach { case (i, j, w) => if (i == j) selfw.update(i, w) }
    var m2 = 0L
    deg.valuesIterator.foreach(m2 += _)
    val comm = mutable.HashMap.empty[Long, Long]
    deg.keysIterator.foreach(i => comm.update(i, i))
    // (−g, i, b) struct order: lexicographic, like Spark's struct min
    def priLt(x: (Long, Long, Long), y: (Long, Long, Long)): Boolean =
      x._1 < y._1 || (x._1 == y._1 &&
        (x._2 < y._2 || (x._2 == y._2 && x._3 < y._3)))
    var converged = false
    for (_ <- 0 until rounds if !converged) {
      val wic = mutable.HashMap.empty[(Long, Long), Long]
      edges.foreach { case (i, j, w) =>
        comm.get(j).foreach { b =>
          wic.update((i, b), wic.getOrElse((i, b), 0L) + w) }
      }
      val dc = mutable.HashMap.empty[Long, Long]
      wic.foreach { case ((_, b), w) =>
        dc.update(b, dc.getOrElse(b, 0L) + w) }
      // per-node best positive move under (g desc, b asc)
      val best = mutable.HashMap.empty[Long, (Long, Long, Long)] // i → (g, a, b)
      wic.foreach { case ((i, b), wib) =>
        val a = comm(i)
        if (b != a) dc.get(a).foreach { da => // inner-join semantics on dc(a)
          val wia = wic.getOrElse((i, a), 0L) - selfw.getOrElse(i, 0L)
          val k = deg(i)
          val g = gammaDen * (wib - wia) * m2 -
            gammaNum * k * (dc(b) - da + k)
          if (g > 0) best.get(i) match {
            case Some((g0, _, b0)) if g0 > g || (g0 == g && b0 < b) => ()
            case _ => best.update(i, (g, a, b))
          }
        }
      }
      if (best.isEmpty) converged = true
      else {
        val tmin = mutable.HashMap.empty[Long, (Long, Long, Long)]
        best.foreach { case (i, (g, a, b)) =>
          val pri = (-g, i, b)
          Seq(a, b).foreach { tc =>
            tmin.get(tc) match {
              case Some(m) if !priLt(pri, m) => ()
              case _ => tmin.update(tc, pri)
            }
          }
        }
        best.foreach { case (i, (g, a, b)) =>
          val pri = (-g, i, b)
          if (tmin(a) == pri && tmin(b) == pri) comm.update(i, b)
        }
      }
    }
    comm
  }

  /** Local [[contract]]: inner-join semantics on both endpoints, edge
    * mass summed by (community(i), community(j)). */
  private def localContract(edges: Array[(Long, Long, Long)],
                            comm: scala.collection.Map[Long, Long])
      : Array[(Long, Long, Long)] = {
    val agg = mutable.HashMap.empty[(Long, Long), Long]
    edges.foreach { case (i, j, w) =>
      for (ci <- comm.get(i); cj <- comm.get(j))
        agg.update((ci, cj), agg.getOrElse((ci, cj), 0L) + w)
    }
    agg.iterator.map { case ((i, j), w) => (i, j, w) }.toArray
  }

  /** Local [[refine]]: min-id union-find over the within-community
    * edge set (i≠j, both endpoints mapped, equal communities) — the
    * exact ConnectedComponents min-reachable labels; members with no
    * within-community edge keep their own id. */
  private def localRefine(pairs: Array[(Long, Long)],
                          comm: scala.collection.Map[Long, Long])
      : Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (i, j) =>
      if (i != j) {
        val ok = (for (ci <- comm.get(i); cj <- comm.get(j))
          yield ci == cj).getOrElse(false)
        if (ok) {
          val ri = find(i); val rj = find(j)
          if (ri != rj) {
            if (ri < rj) parent.update(rj, ri) else parent.update(ri, rj)
            parent.getOrElseUpdate(math.min(ri, rj), math.min(ri, rj))
          }
        }
      }
    }
    // every vertex touched by a union holds a parent entry (union
    // registers both roots via getOrElseUpdate), so membership in
    // `parent` ⇔ the vertex appeared in a within-community edge
    comm.keysIterator.map { id =>
      id -> (if (parent.contains(id)) find(id) else id)
    }.toMap
  }

  /** q429's exact scorer for an arbitrary partition of the same
    * ordered-pair graph: Q = w_in/m2 − Σ_c D_c²/m2² with integer
    * masses and two fixed-order double divisions (the spec's monotone
    * and beats-the-region assertions evaluate THIS number). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: String, comm: DataFrame): Double = {
    val e = edges.select(col(srcCol).as("i"), col(dstCol).as("j"),
      col(wCol).cast("long").as("w"))
    val cm = comm.select(col("id").as("__n"), col("community").as("__c"))
    val deg = e.groupBy("i").agg(sum("w").as("k"))
      .join(cm, col("i") === col("__n"))
    val dc = deg.groupBy("__c").agg(sum("k").as("d"))
    val win = e
      .join(cm.select(col("__n").as("i"), col("__c").as("ci")), Seq("i"))
      .join(cm.select(col("__n").as("j"), col("__c").as("cj")), Seq("j"))
      .filter(col("ci") === col("cj"))
      .agg(coalesce(sum("w"), lit(0L)).as("w_in"))
    val tot = dc.agg(sum("d").as("m2"),
      sum(col("d").cast("decimal(38,0)") * col("d").cast("decimal(38,0)"))
        .as("sd2"))
    win.crossJoin(tot)
      .select((col("w_in").cast("double") / col("m2") -
        col("sd2").cast("double") /
          (col("m2").cast("double") * col("m2"))).as("q"))
      .collect().head.getDouble(0)
  }
}
