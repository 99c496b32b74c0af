package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Deterministic random walks over an edge DataFrame (src, dst) — the
  * sampling pass that feeds skip-gram graph embeddings (DeepWalk /
  * node2vec): one fixed-length walk per start node, where step k moves
  * to the out-neighbor minimizing a salted md5-uniform draw over
  * (current node, k, neighbor).
  *
  * Hash-argmin in place of a true random choice is the same trick the
  * sampler family uses (q76/q289): every engine that can compute md5
  * replays the exact walk, so the oracle pins each hop bit-for-bit,
  * and re-running the job on different partitionings yields identical
  * walks. The draw conditions on the STEP INDEX, so a walk revisiting
  * a node does not loop deterministically forever.
  *
  * Scale shape: step k is one join of the walk frontier (one row per
  * start node) against the static edge table on the current node — at
  * 100 TB both sides hash-partition on the join key and the edge side's
  * partitioning is reused across steps (same loop shape as PageRank) —
  * followed by a per-start row_number over the candidate neighbors,
  * which rides WindowGroupLimit pushdown (rank 1 prunes per-partition
  * before the exchange). Walk state is localCheckpointed per step:
  * each iteration's frontier feeds the next join once, but the cut
  * keeps analysis time linear in walk length. Dead ends (no
  * out-neighbor) pad the remaining hops with NULL rather than dropping
  * the walk, so the output is always one row per start node.
  *
  * Contract: EAGER like [[PageRank.run]] / [[Hits.run]] — the
  * localCheckpoint cadence runs jobs at call time.
  *
  * Reference scope: graph-family extension (SURVEY.md §7.4), alongside
  * PageRank / label propagation / components / triangles / HITS.
  */
object RandomWalk {

  /** One walk of `steps` hops from every distinct node. Returns
    * (start, s1, ..., s&lt;steps&gt;), hop columns nullable on dead ends. */
  def walks(edges: DataFrame, steps: Int, salt: String): DataFrame = {
    require(steps >= 1, "walks need at least one step")
    val eDistinct = edges.select(col("src"), col("dst")).distinct()
    // Cost dispatch (guide §1.2 step 1, the Louvain/PageRank/Hits
    // pattern): each hop costs a join + a window + a checkpoint — pure
    // scheduling overhead on a schema-bounded graph. The md5-uniform
    // draw is a pure function of (cur, k, dst, salt), so the local
    // replay is bit-exact, not merely float-close. Under the LocalProbe
    // ceilings the hops replay on the driver; oversized, null or
    // non-integral-keyed graphs take the distributed loop unchanged.
    LocalProbe.collect(eDistinct, LocalProbe.Edges) match {
      case Some(g) => return localWalks(eDistinct, g.pairs, steps, salt)
      case None => ()
    }
    val e = eDistinct.cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()

    var w = nodes.select(col("node").as("start"), col("node").as("cur"))
    for (k <- 1 to steps) {
      // draw: u = md5Uniform("cur|k|dst"); min (u, dst) wins. A null
      // cur (dead walk) joins nothing and carries a single null dst
      // row, so its ordering never matters.
      val cand = w.join(e, w("cur") === e("src"), "left")
        .withColumn("u", Anonymize.md5Uniform(
          concat_ws("|", col("cur"), lit(k), col("dst")), salt))
      val win = Window.partitionBy("start")
        .orderBy(col("u").asc_nulls_last, col("dst").asc_nulls_last)
      val hops = (1 until k).map(i => col(s"s$i"))
      w = cand.withColumn("r", row_number().over(win))
        .filter(col("r") === 1)
        .select(col("start") +: hops :+ col("dst").as(s"s$k"): _*)
        .withColumn("cur", col(s"s$k"))
        .localCheckpoint()
    }
    val out = w.drop("cur")
    e.unpersist()
    out
  }

  /** Exactly Anonymize.md5Uniform for an integral key rendered the way
    * concat_ws renders it: first 8 hex chars of md5(key-salt) as a
    * 32-bit integer over 2³² — a pure function, so the local hop draw
    * is bit-identical to the distributed one. */
  private def md5u(key: String, salt: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((key + "-" + salt).getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
  }

  /** The exact local replay of the hop loop: per start node, step k
    * moves to the out-neighbor minimizing (md5u("cur|k|dst"), dst);
    * dead ends pad the remaining hops with null. */
  private def localWalks(e: DataFrame, es: Array[(Long, Long)], steps: Int,
                         salt: String): DataFrame = {
    val fs = e.schema.fields
    val keyT = fs(0).dataType
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    es.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d }
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val schema = StructType(StructField("start", keyT,
      fs(0).nullable || fs(1).nullable) +: (1 to steps).map(k =>
      StructField(s"s$k", keyT, nullable = true)))
    val rows = nodes.map { start =>
      val hops = new Array[Any](steps)
      var cur: java.lang.Long = start
      for (k <- 1 to steps) {
        val next: Option[Long] =
          if (cur == null) None
          else adj.get(cur.longValue).map { ds =>
            ds.minBy(d => (md5u(s"$cur|$k|$d", salt), d))
          }
        hops(k - 1) = next
          .map(LocalProbe.fromLong(_, keyT)).orNull
        cur = next.map(Long.box).orNull
      }
      Row.fromSeq(LocalProbe.fromLong(start, keyT) +: hops.toSeq)
    }.toSeq
    e.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }
}
