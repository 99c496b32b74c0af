package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hyperlink-induced topic search, Kleinberg 1999) hub/authority
  * scores over an edge DataFrame (src, dst) — the mutually-recursive
  * companion of [[PageRank]] in the iterative-dataflow family:
  *
  *   auth_k(n) = Σ_{s→n} hub_{k-1}(s)   then auth_k /= max(auth_k)
  *   hub_k(s)  = Σ_{s→d} auth_k(d)      then hub_k  /= max(hub_k)
  *
  * Normalization uses the L∞ norm (divide by the max) rather than the
  * textbook L2: max over doubles is exact regardless of aggregation
  * order, so the normalizer is bit-deterministic across partitionings
  * and engines, while an L2 norm would inject a √(Σx²) whose low bits
  * depend on float summation order. The fixed point is the same
  * principal-eigenvector direction either way — only the scale differs
  * (max-normalized scores land in [0, 1] with the top hub/authority
  * pinned at exactly 1.0).
  *
  * Scale shape: mirrors PageRank — each half-iteration is one join of
  * the small score vector against the big static edge table (both
  * hash-partitioned on the join key, edges' partitioning stable across
  * iterations) plus one groupBy; the max-normalizer is a 1-row aggregate
  * broadcast back via crossJoin, not a driver round-trip inside the
  * plan. Static frames (deduped edges, node set) are cached once; the
  * raw score vector is localCheckpointed each half-step (it feeds the
  * crossJoin TWICE — as data and as the max aggregate — so an uncut
  * lineage would re-embed the whole previous plan several times per
  * iteration and grow exponentially), keeping plan depth O(1) in the
  * iteration count.
  *
  * Contract: EAGER, like [[PageRank.run]] — the cache + localCheckpoint
  * cadence runs Spark jobs at call time and the returned frame is
  * materialized (localCheckpoint trades executor-failure tolerance for
  * speed; see PageRank.run's scaladoc). Edges must be non-empty: an
  * empty graph has no max to normalize by.
  *
  * Reference scope: the capstone has no graph operators at all — this
  * extends the engine alongside PageRank/LabelPropagation/
  * ConnectedComponents (SURVEY.md §7.4 extensions).
  */
object Hits {

  /** Hub/authority scores after `iters` full iterations.
    * Returns (node, auth, hub), one row per distinct src or dst.
    *
    * `localThreshold > 0` opts into a driver-side iteration path when
    * the DISTINCT edge count is at or below it — for graphs that are
    * bounded by their SCHEMA, not the corpus (q363's nation→nation
    * trade graph is ≤ 625 edges at any data scale): per-iteration cost
    * there is pure job-scheduling latency (~0.6 s × iters for a
    * 25-node graph), while the collected edge set is bounded state in
    * the [[KMeans.fitLocal]] sense. The local loop accumulates in
    * sorted (src, dst) edge order — deterministic — and computes the
    * identical coalesce-0 / L∞-normalize math; scores agree with the
    * distributed path to float summation order (callers round, q363 at
    * 6 dp). Default 0 = always distributed. The probe is one bounded
    * take of the ordered distinct edges ([[LocalProbe.takeBounded]]); an
    * over-threshold graph falls through to the distributed path
    * unchanged. */
  def run(edges: DataFrame, iters: Int, localThreshold: Long = 0L): DataFrame = {
    val ordered = edges.select(col("src"), col("dst")).distinct().orderBy("src", "dst")
    LocalProbe.takeBounded(ordered, localThreshold.max(0L).min(Int.MaxValue - 1L).toInt) match {
      case Some(rows) => return runLocal(ordered, rows, iters)
      case None => ()
    }
    val e = edges.select(col("src"), col("dst")).distinct().cache()
    require(!e.isEmpty,
      "Hits.run needs a non-empty edge set (no max to normalize by)")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()

    var scores = nodes.withColumn("auth", lit(1.0)).withColumn("hub", lit(1.0))
    for (_ <- 1 to iters) {
      // authority update: pull hub mass along in-edges, normalize by max.
      // The raw per-node frame is localCheckpointed BEFORE the crossJoin:
      // crossJoin(agg(max)) references the frame twice, so without the
      // cut each iteration would EMBED the previous plan ~6× over and the
      // unrolled plan would grow exponentially with the iteration count
      // (minutes of analysis time by iteration 5). Materializing the
      // node-sized vector per half-step is the standard iterative-
      // dataflow shape (same contract as PageRank's cadence).
      val aRaw = scores
        .join(e, scores("node") === e("src"))
        .groupBy(col("dst").as("node")).agg(sum("hub").as("a"))
      val a = nodes.join(aRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0.0)).as("a"))
        .localCheckpoint()
      val auth = a.crossJoin(a.agg(max("a").as("amax")))
        .select(col("node"), (col("a") / col("amax")).as("auth"))
      // hub update: pull the fresh authority mass along out-edges
      val hRaw = auth
        .join(e, auth("node") === e("dst"))
        .groupBy(col("src").as("node")).agg(sum("auth").as("h"))
      val h = nodes.join(hRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"))
      val hub = h.crossJoin(h.agg(max("h").as("hmax")))
        .select(col("node"), (col("h") / col("hmax")).as("hub"))
      // One cut per iteration is enough for boundedness: hub's double
      // reference to h expands to a CONSTANT ~6 shallow leaves over the
      // materialized `a`, so plan depth stays O(1) across iterations
      // while the per-iteration job count stays at one checkpoint.
      scores = auth.join(hub, "node")
    }
    val out = scores.localCheckpoint()
    e.unpersist(); nodes.unpersist()
    out
  }

  /** Driver-side HITS over the collected (bounded) edge list — same
    * update math as the distributed loop, accumulation in sorted edge
    * order. Node identity is kept as the untyped collected value (the
    * output column re-declares the caller's src type). */
  private def runLocal(ordered: DataFrame, taken: Array[org.apache.spark.sql.Row],
                       iters: Int): DataFrame = {
    val spark = ordered.sparkSession
    val nodeType = ordered.schema("src").dataType
    val edgeRows = taken.map(r => (r.get(0), r.get(1)))
    require(edgeRows.nonEmpty,
      "Hits.run needs a non-empty edge set (no max to normalize by)")
    // insertion-ordered distinct node list (sorted edge order → stable)
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    edgeRows.foreach { case (s, d) => nodes += s; nodes += d }
    var auth = nodes.iterator.map(_ -> 1.0).to(scala.collection.mutable.LinkedHashMap)
    var hub = nodes.iterator.map(_ -> 1.0).to(scala.collection.mutable.LinkedHashMap)
    (1 to iters).foreach { _ =>
      val aRaw = scala.collection.mutable.LinkedHashMap.empty[Any, Double]
      edgeRows.foreach { case (s, d) =>
        aRaw(d) = aRaw.getOrElse(d, 0.0) + hub(s)
      }
      val amax = aRaw.valuesIterator.max
      auth = nodes.iterator
        .map(n => n -> aRaw.getOrElse(n, 0.0) / amax)
        .to(scala.collection.mutable.LinkedHashMap)
      val hRaw = scala.collection.mutable.LinkedHashMap.empty[Any, Double]
      edgeRows.foreach { case (s, d) =>
        hRaw(s) = hRaw.getOrElse(s, 0.0) + auth(d)
      }
      val hmax = hRaw.valuesIterator.max
      hub = nodes.iterator
        .map(n => n -> hRaw.getOrElse(n, 0.0) / hmax)
        .to(scala.collection.mutable.LinkedHashMap)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType),
      org.apache.spark.sql.types.StructField("auth",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("hub",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = nodes.iterator.map(n =>
      org.apache.spark.sql.Row(n, auth(n), hub(n))).toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
