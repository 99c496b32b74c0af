package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (MinHash/SimHash/embedding candidates) into dedup CLUSTERS
  * with one canonical representative each; transitively-linked docs
  * must collapse together even when the endpoints never compared
  * directly.
  *
  * Algorithm: distributed spanning-forest contraction (hash-to-min
  * family — see Rastogi et al., "Finding Connected Components in
  * Map-Reduce in Logarithmic Rounds", ICDE'13):
  *
  *   1. Each partition runs a LOCAL union-find over its edges and
  *      replaces them with a spanning star (v → partition-local min
  *      root). No shuffle; edge count drops to < #local vertices while
  *      connectivity is exactly preserved.
  *   2. Stars are hash-repartitioned by vertex, so a vertex seen by
  *      several partitions brings its (conflicting) roots together for
  *      the next local pass — the merge that propagates connectivity
  *      across partition boundaries. Repeat while the edge set is
  *      still large; each round contracts by the local clustering
  *      factor and the round count is O(log diameter).
  *   3. When the surviving star forest is small (≤ `LocalFinishEdges`,
  *      2M edges ≈ 32 MB — near-dup graphs contract far below
  *      this because components are tiny relative to the corpus), one
  *      single-task union-find labels every remaining vertex exactly.
  *
  * vs round-2's per-round join+aggregate label propagation: a round
  * here is ONE mapPartitions + one shuffle instead of two joins, an
  * aggregate and two materializations — on the bench graph (1.5k
  * vertices) that's 2 jobs instead of ~24, and at 100 TB the
  * contraction touches each edge O(log) times with no driver-side
  * iteration over data.
  */
object ConnectedComponents {

  /** Partition-local union-find: replaces the partition's edges with
    * min-rooted spanning stars (v, root(v)) for every non-root vertex. */
  private def contract(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    it.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // union by MIN id so roots are canonical labels
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
        parent.getOrElseUpdate(math.min(ra, rb), math.min(ra, rb))
      }
    }
    parent.keysIterator.flatMap { v =>
      val r = find(v)
      if (r != v) Iterator.single((v, r)) else Iterator.empty
    }
  }

  /** Star-forest size at or under which the contraction loop stops and
    * one single-task union-find finishes (2M edges ≈ 32 MB). */
  private val LocalFinishEdges = 2000000L

  /** @return (id, component) — every vertex appearing in `edges`,
    *         labeled with the min vertex id reachable from it. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxIters: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Normalized DISTINCT pair relation, materialized ONCE — self-pairs
    // survive the distinct (they carry vertex presence), so this single
    // edge-list-sized checkpoint feeds the vertex set, the contraction
    // seed and the size gate. Unchecked, the input subtree (often an
    // LSH candidate join) was evaluated up to four times: the vertex
    // union's two sides, the loop seed, and the gate count.
    val e1 = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("_1"),
              greatest(col(srcCol), col(dstCol)).cast("long").as("_2"))
      .distinct()
      .localCheckpoint()

    // Local path: a pair relation under the LocalProbe edge ceiling
    // (one bounded take over the already-materialized relation; no node
    // ceiling) is labeled by ONE driver-side union-find instead of the
    // count + contraction + single-task-finish + vertex-join chain — the
    // cost dispatch of the other graph operators applied to the cluster
    // step every near-dup pipeline ends in. All-Long min-id labels:
    // bit-identical to the distributed path by construction (pinned in
    // ConnectedComponentsSpec).
    LocalProbe.collect(e1, LocalProbe.Pairs) match {
      case Some(g) =>
        // one union-find over the collected pairs — same min-id labels
        // as contraction + finish (the label is a pure function of the
        // graph: union by min root, find to the root)
        val parent = mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val verts = mutable.TreeSet.empty[Long]
        g.pairs.foreach { case (a, b) =>
          verts += a; verts += b
          if (a != b) {
            val ra = find(a); val rb = find(b)
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
        }
        return localResult(spark, verts.toSeq.map(v => (v, find(v))))
      case None => ()
    }

    var e: Dataset[(Long, Long)] = e1
      .filter(col("_1") =!= col("_2"))
      .as[(Long, Long)]

    var n = e.count()
    var i = 0
    while (n > LocalFinishEdges && i < maxIters) {
      e = e.mapPartitions(contract)
        .repartition(col("_1"))
        .localCheckpoint() // truncate lineage; swap for checkpoint() on a real cluster
      n = e.count()
      i += 1
    }
    require(n <= LocalFinishEdges,
      s"star forest still has $n edges after $i contraction rounds, over " +
        s"the $LocalFinishEdges-edge single-task finish — raise maxIters")

    // Bounded single-task finish over the contracted star forest: the
    // full remaining graph fits one task by construction (≤
    // LocalFinishEdges pairs), and union-find labels every surviving
    // vertex with its exact min-reachable root.
    val labeled = e.coalesce(1).mapPartitions { it =>
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nn = parent(c); parent(c) = r; c = nn }
        r
      }
      it.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keysIterator.map(v => (v, find(v)))
    }.toDF("id", "component")

    // Vertices contracted away in earlier rounds are already labeled
    // (they appear in `labeled` via their star edges — stars keep both
    // endpoints alive every round); self-pair-only vertices fall back
    // to their own id.
    val vertices = e1.select(col("_1").as("id"))
      .union(e1.select(col("_2").as("id")))
      .distinct()
    vertices.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** (id, component) rows → LocalRelation with the distributed output
    * schema (two nullable longs — the left-join + coalesce shape). */
  private def localResult(spark: org.apache.spark.sql.SparkSession,
                          rows: Seq[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("component", LongType, nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(t => Row(t._1, t._2)): _*), schema)
  }
}
