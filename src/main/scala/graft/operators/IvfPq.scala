package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.expressions.DotProduct.vecDot

/** IVF-PQ — the top rung of the ANN ladder (brute force → SRP-LSH →
  * IVF → IVF-PQ): a coarse k-means quantizer buckets the corpus, each
  * vector stores only its bucket id plus the PQ codes of its RESIDUAL
  * (v − centroid), and a query scans just the `nprobe` buckets whose
  * centroids are nearest.
  *
  * This fixes the one scale flaw of plain [[ProductQuantizer.adcTopK]]:
  * ADC compresses the corpus 32× but still scans ALL of it per query.
  * Here the probe list is (queries × nprobe) rows — broadcast — and the
  * bucket equi-join prunes the corpus scan to nprobe/coarseK of its
  * rows WITHOUT the corpus ever shuffling (the encoded table is tiny:
  * bucket + m codes per vector, and can be written partitioned by
  * bucket so the scan prunes at the file level). Residual encoding is
  * what makes the shared codebook accurate across buckets: residuals
  * live near the origin regardless of which centroid a vector sits by.
  *
  * Determinism discipline (same as q346): coarse centroids AND PQ
  * codebooks are rounded to 6 dp before inlining as literals, so every
  * downstream assignment/encode/score is a bit-deterministic row-local
  * expression; all ranking ties break on neighbor id.
  */
object IvfPq {

  final case class Model(coarse: Seq[Seq[Double]],
                         pq: ProductQuantizer.Model)

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** argmin-L2 bucket id over the literal coarse centroids:
    * min −2·v·c + |c|² (|v|² constant per row), ties to lowest id. */
  def bucketExpr(vec: Column, coarse: Seq[Seq[Double]]): Column = {
    val v = vec.cast("array<double>")
    val scores = array(coarse.map { c =>
      val cn2 = c.map(x => x * x).sum
      lit(-2.0) * vecDot(v, typedLit(c)) + lit(cn2)
    }: _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** residual = v − coarse[bucket], as a column expression. */
  private def residualExpr(vec: Column, bucket: Column,
                           coarse: Seq[Seq[Double]]): Column =
    zip_with(vec.cast("array<double>"),
      element_at(typedLit(coarse), bucket + 1), (a, b) => a - b)

  /** Train coarse quantizer + residual PQ codebooks on a BOUNDED
    * deterministic sample — the `samplePerCentroid · max(coarseK,
    * codes)` rows with the smallest md5(id) (standard quantizer
    * practice: codebook quality saturates around 50 rows per centroid,
    * and a fixed-size hash sample is reproducible under retries and
    * independent of corpus scale). The cluster does ONE top-S job
    * (per-partition md5 heaps, S rows to the driver — bounded model
    * state like the centroid collects); both Lloyd loops then run
    * driver-local ([[KMeans.fitLocal]]), which at O(10³) rows is faster
    * than the job-scheduling overhead of even one distributed iteration
    * — this was 12-13 s of tiny jobs at sf0.1, and is why a 100 TB fit
    * wants the sample, not the corpus. Encode/probe stay distributed
    * and scan-shaped. fitLocal's fixed accumulation order also removes
    * the summation-order knife-edge the distributed fit documents:
    * the model is bit-deterministic under any partitioning.
    * `samplePerCentroid <= 0` falls back to the full corpus as the
    * sample (exact legacy scope, still driver-fit). */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          coarseK: Int = 8, m: Int = 8, codes: Int = 16,
          iters: Int = 3, samplePerCentroid: Int = 50): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val base = df.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val sampled =
      if (samplePerCentroid <= 0) base
      else base
        .withColumn("h", md5(col("vid").cast("string")))
        .orderBy(col("h"), col("vid"))
        .limit(samplePerCentroid * math.max(coarseK, codes))
        .select("vid", "v")
    val sample = sampled.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toIndexedSeq
    val coarse = KMeans.fitLocal(sample, coarseK, iters)
      .map(_.map(r6).toSeq).toSeq
    // residuals against the ROUNDED centroids (what encode() uses), so
    // the codebooks quantize exactly the residual distribution the
    // distributed encoder produces; bucket argmin mirrors bucketExpr
    // (−2·v·c + |c|², strict < ties to the lowest bucket)
    val resid = sample.map { case (id, v) =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        val cc = coarse(c)
        var dot = 0.0
        var cn2 = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * cc(i); cn2 += cc(i) * cc(i); i += 1 }
        val d = -2.0 * dot + cn2
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      (id, Array.tabulate(v.length)(i => v(i) - coarse(best)(i)))
    }
    val books = (0 until m).map { s =>
      KMeans.fitLocal(
        resid.map { case (id, rv) =>
          (id, java.util.Arrays.copyOfRange(rv, s * subDim, (s + 1) * subDim))
        }, codes, iters)
        .map(_.map(r6).toSeq).toSeq
    }
    Model(coarse, ProductQuantizer.Model(m, subDim, books))
  }

  /** Encode: (vid, bucket, codes). Two stacked narrow projections (the
    * bucket argmin evaluates ONCE, then feeds both the output column
    * and the residual — inlining it twice doubled the analyzer work) —
    * at 100 TB, write the result `partitionBy("bucket")` and the probe
    * join prunes files. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame =
    df.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("__v"),
        bucketExpr(col(vecCol), model.coarse).as("bucket"))
      .select(col("vid"), col("bucket"),
        ProductQuantizer.codesExpr(
          residualExpr(col("__v"), col("bucket"), model.coarse),
          model.pq).as("codes"))

  /** Per-query nprobe nearest buckets: sort (score, bucket) structs,
    * slice, explode. The struct sort breaks score ties on bucket id.
    * Public so audits (q488's scanned-fraction leg) can price exactly
    * the bucket list the probe join uses. */
  def probes(qv: Column, model: Model, nprobe: Int): Column = {
    val c = model.coarse
    val scores = array(c.indices.map { i =>
      val cn2 = c(i).map(x => x * x).sum
      struct((lit(-2.0) * vecDot(qv, typedLit(c(i))) + lit(cn2)).as("sc"),
             lit(i).as("b"))
    }: _*)
    transform(slice(array_sort(scores), 1, math.min(nprobe, c.length)),
              s => s.getField("b"))
  }

  /** The raw ADC scan over the probed buckets, with the PROBE RANK
    * carried: (query_id, neighbor_id, probe_rank, adist). [[topK]] is
    * this plus the per-query k-limit window; audits that sweep nprobe
    * (q488) derive EVERY smaller-nprobe config from ONE maximal scan
    * by filtering `probe_rank < nprobe` — [[probes]] returns buckets
    * in ascending (distance, bucket) order, so the first n entries ARE
    * the nprobe = n probe set, and the expensive ADC distance is
    * evaluated once per (query, candidate) instead of once per config. */
  def adcScan(encoded: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, model: Model, nprobe: Int): DataFrame = {
    val probe = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(probes(col("qv"), model, nprobe)))
      .withColumnRenamed("pos", "probe_rank")
      .withColumnRenamed("col", "bucket")
      .withColumn("qr",
        residualExpr(col("qv"), col("bucket"), model.coarse))
      .select("query_id", "probe_rank", "bucket", "qr")
    // corpus side never shuffles: the probe list (queries × nprobe) is
    // the broadcast side of a bucket equi-join. Distance is the native
    // fused AdcDist (§4) — bit-identical to the old composed
    // aggregate∘zip_with form (AdcDistSpec pins it).
    encoded.join(broadcast(probe), Seq("bucket"))
      .filter(col("query_id") =!= col("vid"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
              col("probe_rank"),
              graft.functions.expressions.AdcDist
                .adcDist(col("codes"), col("qr"), model.pq.codebooks)
                .as("adist"))
  }

  /** ADC top-k over probed buckets only. Output:
    * (query_id, neighbor_id, rank, adist) — adist is the approximate
    * L2² of (q − centroid_bucket) against the neighbor's residual
    * codes, i.e. the FAISS IVF-PQ asymmetric distance. */
  def topK(encoded: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, model: Model, k: Int, nprobe: Int): DataFrame = {
    val scored = adcScan(encoded, queries, idCol, vecCol, model, nprobe)
      .select(col("query_id"), col("neighbor_id"), col("adist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ADC candidate generation + EXACT-vector rerank — FAISS's refine
    * step, the standard answer when the quantizer alone is too lossy
    * (q477 measures exactly that on incompressible vectors: PQ codes
    * find the right NEIGHBORHOOD cheaply, their distances are too
    * distorted to ORDER it). The ADC pass retrieves `kCandidates` per
    * query from the probed buckets; only those k_c·|queries| rows —
    * bounded, never the corpus — join back to the true vectors for an
    * exact cosine, and the final top-k ranks on that.
    *
    * Scale shape: stage 1 is [[topK]] unchanged (corpus never
    * shuffles); stage 2 is one equi-join where the CANDIDATE side
    * broadcasts against the corpus scan plus a per-query (bounded
    * partition) rank. Cost = ADC scan + k_c exact distances per query
    * — the recall lever without ever going brute.
    *
    * Output: (query_id, neighbor_id, cos, rank) — rank by exact
    * cosine desc, ties to the lower neighbor id. */
  def topKRefined(encoded: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, corpus: DataFrame, model: Model, k: Int,
                  kCandidates: Int, nprobe: Int): DataFrame = {
    require(kCandidates >= k, s"kCandidates $kCandidates < k $k")
    import graft.functions.expressions.DotProduct.vecDot
    val cand = topK(encoded, queries, idCol, vecCol, model,
        k = kCandidates, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    // candidate side (with query vectors attached) broadcasts; the
    // corpus side streams through the equi-join map-side
    val withQ = cand.join(broadcast(qv), Seq("query_id"))
    val qn = sqrt(vecDot(col("__qv"), col("__qv")))
    val cn = sqrt(vecDot(col("__cv"), col("__cv")))
    val cos = when(qn * cn === 0.0, 0.0)
      .otherwise(vecDot(col("__qv"), col("__cv")) / (qn * cn))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cv.join(broadcast(withQ), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
