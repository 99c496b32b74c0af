package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Synchronous weighted label propagation (community detection) over
  * an edge DataFrame (src, dst, w) — the fourth member of the
  * iterative-graph family (PageRank, ConnectedComponents, KMeans share
  * the loop shape).
  *
  * Labels start as the node id; each iteration every node adopts the
  * label carrying the highest total edge weight among its neighbors,
  * ties to the smallest label — fully integer logic, so a fixed
  * iteration count is deterministic and oracle-able as an unrolled CTE
  * chain. Edges are symmetrized (undirected) and self-loops dropped;
  * isolated nodes keep their own label. Known synchronous-LP artifact:
  * a symmetric bipartite component (e.g. a bare pair) swaps labels
  * every round and never converges — triangles damp this in real
  * graphs; an async/semi-sync variant is the fix if it ever matters.
  *
  * Scale shape: per iteration one join (labels ⋈ edges on dst) + one
  * (src, label) aggregate + one top-1 window — all hash-partitioned on
  * node keys; the big static edge table keeps its partitioning across
  * iterations while only the (node, label) vector moves (the PageRank
  * argument, PageRank.scala:20-24). Long loops at scale would
  * localCheckpoint every ~10 iterations to cut lineage.
  *
  * Reference scope: the capstone has no graph operators — extension
  * surface (SURVEY.md §8).
  */
object LabelPropagation {

  /** Communities after `iters` synchronous rounds. Returns
    * (node, label).
    *
    * `checkpointEvery` > 0 localCheckpoints the label vector on that
    * cadence, so a deep loop's unrolled plan — and any recompute of
    * it — stays bounded regardless of iteration count (the
    * PageRank.checkpointEvery argument). Values are unchanged either
    * way — LabelPropagationSpec pins the two forms equal — so the
    * oracled+benched q291 runs the checkpointed form (the unrolled plan
    * is the one that collapses under memory pressure; r6 driver bench
    * 25.9 s vs 2.5 s quiesced) while its unrolled-CTE oracle still
    * matches value-for-value. NOTE: checkpointEvery > 0 makes the call
    * EAGER at the checkpoint boundaries (Spark jobs run inside this
    * call), and localCheckpointed blocks don't survive executor loss —
    * the PageRank.run contract. */
  def run(edges: DataFrame, iters: Int, checkpointEvery: Int = 0): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src") =!= col("dst"))
    // materialize the static symmetrized edge table ONCE (localCheckpoint
    // caches partitions and cuts lineage) — otherwise every iteration's
    // broadcast of the label vector re-evaluates the upstream edge
    // derivation (often an expensive multi-join) from scratch
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint()
    // Cost dispatch (guide §1.2 step 1, the Louvain/PageRank/Hits
    // pattern): the symmetrize+aggregate above is the at-scale work
    // and stays distributed; the label loop costs a broadcast join,
    // an aggregate and a window PER ROUND — pure scheduling overhead
    // on a few-thousand-node graph. Under the LocalProbe ceilings the
    // exact all-integer argmax replays on the driver; oversized, null,
    // non-integral-keyed or non-Long-weight graphs stay distributed.
    LocalProbe.collect(sym, LocalProbe.Edges) match {
      case Some(g) => localRun(sym, g.triples, iters)
      case None => runDistributed(sym, iters, checkpointEvery)
    }
  }

  private def runDistributed(sym: DataFrame, iters: Int,
                             checkpointEvery: Int): DataFrame = {
    val nodes = sym.select(col("src").as("node")).distinct()

    var labels = nodes.withColumn("label", col("node"))
    for (it <- 1 to iters) {
      // the (node, label) vector is the small moving side — broadcast
      // it against the static edge table so iterations never reshuffle
      // the edges (at 100 TB ranks stay MBs while edges are the bulk)
      val scored = sym
        .join(broadcast(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src"), col("label"))
        .agg(sum("w").as("wt"))
      val pick = Window.partitionBy("src")
        .orderBy(col("wt").desc, col("label").asc)
      val next = scored
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
      // isolated nodes (no neighbors) keep their current label
      labels = labels.select(col("node"), col("label").as("prev"))
        .join(next.withColumnRenamed("label", "nxt"), Seq("node"), "left")
        .select(col("node"), coalesce(col("nxt"), col("prev")).as("label"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iters)
        labels = labels.localCheckpoint()
    }
    labels
  }

  /** The exact local replay of the distributed loop: per round, total
    * neighbor-label weight per (node, label), adopt the max with ties
    * to the smallest label; nodes with no scored row keep their label.
    * All-Long arithmetic — bit-identical to the distributed rounds. */
  private def localRun(sym: DataFrame, es: Array[(Long, Long, Long)],
                       iters: Int): DataFrame = {
    val nodeF = sym.schema.fields(0)
    val nodes = es.map(_._1).distinct.sorted
    val labels = mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => labels.update(n, n))
    for (_ <- 1 to iters) {
      val wt = mutable.HashMap.empty[(Long, Long), Long]
      es.foreach { case (s, d, w) =>
        labels.get(d).foreach { l =>
          wt.update((s, l), wt.getOrElse((s, l), 0L) + w) }
      }
      val next = mutable.HashMap.empty[Long, (Long, Long)] // node → (wt, label)
      wt.foreach { case ((s, l), v) =>
        next.get(s) match {
          case Some((v0, l0)) if v0 > v || (v0 == v && l0 < l) => ()
          case _ => next.update(s, (v, l))
        }
      }
      next.foreach { case (n, (_, l)) => labels.update(n, l) }
    }
    val schema = StructType(Seq(
      StructField("node", nodeF.dataType, nodeF.nullable),
      StructField("label", nodeF.dataType, nullable = true)))
    val rows = nodes.map(n => Row(LocalProbe.fromLong(n, nodeF.dataType),
      LocalProbe.fromLong(labels(n), nodeF.dataType))).toSeq
    sym.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }
}
