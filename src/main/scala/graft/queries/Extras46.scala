package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Round-4 surface, part 42: retrieval evaluation, cluster quality on
  * label structure, collocation mining, event dwell times, vocabulary
  * growth, and boilerplate detection.
  *
  * House numeric rules throughout: integer counts and ratios wherever
  * possible; ln/interpolation only in per-row closed forms or behind
  * the established round(5) entropy-sum precedent; every shared
  * constant (IDCG table) is computed once in Scala and embedded as the
  * identical literal in both surfaces.
  */
object Extras46 extends QueryPack {

  import OracleVec.{dotSql, normSql}

  // --------------------------------------------------------------- q295
  /** Cluster purity over a deterministic sign-grid clustering: the
    * signs of embedding dims 1-3 bucket every vector into one of 8
    * cells; per cell, the dominant label's share is the purity. All
    * integer counts and one exact ratio — the zero-float way to ask
    * "does the embedding space separate the labels at all". */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir)("embeddings")
    val cell = (when(element_at(col("embedding"), 1) >= 0, 4).otherwise(0)
      + when(element_at(col("embedding"), 2) >= 0, 2).otherwise(0)
      + when(element_at(col("embedding"), 3) >= 0, 1).otherwise(0))
    val counts = e.select(cell.as("cell"), col("label"))
      .groupBy("cell", "label").agg(count(lit(1)).as("c"))
    val pick = Window.partitionBy("cell")
      .orderBy(col("c").desc, col("label").asc)
    counts
      .withColumn("n", sum("c").over(Window.partitionBy("cell")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("cell").cast("int").as("cell"),
        col("n").cast("long").as("n_vecs"),
        col("label").as("top_label"),
        col("c").cast("long").as("top_n"),
        round(col("c").cast("double") / col("n"), 5).as("purity"))
      .orderBy("cell")
  }

  private val q295Sql =
    """WITH cells AS (
         SELECT (CASE WHEN embedding[1] >= 0 THEN 4 ELSE 0 END
               + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
               + CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) AS cell,
                label
         FROM embeddings),
       counts AS (SELECT cell, label, count(*) AS c
                  FROM cells GROUP BY 1, 2),
       ranked AS (
         SELECT cell, label, c,
                sum(c) OVER (PARTITION BY cell) AS n,
                row_number() OVER (PARTITION BY cell
                  ORDER BY c DESC, label) AS rn
         FROM counts)
       SELECT CAST(cell AS INT) AS cell, CAST(n AS BIGINT) AS n_vecs,
              label AS top_label, CAST(c AS BIGINT) AS top_n,
              round(CAST(c AS DOUBLE) / n, 5) AS purity
       FROM ranked WHERE rn = 1 ORDER BY cell"""

  // --------------------------------------------------------------- q296
  /** NDCG@10 of brute-force cosine retrieval, relevance = "neighbor
    * shares the query's label", averaged per query label — the
    * retrieval-evaluation loop every embedding pipeline runs. Reuses
    * the exact q29 ranking (Similarity.bruteForceTopK, ties on
    * neighbor id); DCG terms are rel·ln2/ln(rank+1); the IDCG ladder
    * is ONE Scala-computed literal array indexed by the relevant
    * count, identical in both engines. Per-query and per-label double
    * sums sit behind round(5) (entropy-sum precedent). */
  private val idcgLadder: Seq[Double] =
    (1 to 10).scanLeft(0.0)((acc, i) => acc + math.log(2) / math.log(i + 1))
      .tail // idcgLadder(r-1) = ideal DCG with r relevant docs

  private def q296(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir)("embeddings")
    val queries = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    val topk = Similarity.bruteForceTopK(e, queries, "vec_id",
      "embedding", k = 10)
    val lbl = e.select(col("vec_id"), col("label"))
    val rel = topk
      .join(lbl.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), "query_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), "neighbor_id")
      .select(col("query_id"), col("qlabel"), col("rank"),
        when(col("qlabel") === col("nlabel"), 1).otherwise(0).as("rel"))
    val perQuery = rel.groupBy("query_id", "qlabel")
      .agg(sum(col("rel").cast("double") * log(lit(2.0))
          / log((col("rank") + 1).cast("double"))).as("dcg"),
        sum("rel").as("r"))
      .withColumn("ndcg",
        when(col("r") === 0, lit(0.0)).otherwise(col("dcg")
          / element_at(array(idcgLadder.map(lit): _*),
            col("r").cast("int"))))
    perQuery.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg("ndcg"), 5).as("avg_ndcg"))
      .select(col("label"), col("n_queries").cast("long").as("n_queries"),
        col("avg_ndcg"))
      .orderBy("label")
  }

  private val q296Sql = {
    val ladder = idcgLadder.mkString("[", ", ", "]")
    s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                          embedding AS qv
                   FROM embeddings WHERE vec_id % 50 = 0),
       c AS (SELECT vec_id AS neighbor_id, label AS nlabel,
                    embedding AS cv FROM embeddings),
       scored AS (
         SELECT query_id, qlabel, neighbor_id, nlabel,
           ${dotSql("qv", "cv")} / (${normSql("qv")} * ${normSql("cv")})
             AS cos
         FROM c JOIN q ON query_id <> neighbor_id),
       ranked AS (
         SELECT query_id, qlabel, nlabel,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS rank
         FROM scored),
       rel AS (
         SELECT query_id, qlabel, rank,
                CASE WHEN qlabel = nlabel THEN 1 ELSE 0 END AS rel
         FROM ranked WHERE rank <= 10),
       per_query AS (
         SELECT query_id, qlabel,
                sum(CAST(rel AS DOUBLE) * ln(CAST(2 AS DOUBLE))
                  / ln(CAST(rank + 1 AS DOUBLE))) AS dcg,
                sum(rel) AS r
         FROM rel GROUP BY 1, 2),
       ndcg AS (
         SELECT qlabel,
                CASE WHEN r = 0 THEN CAST(0 AS DOUBLE)
                     ELSE dcg / ($ladder)[CAST(r AS INT)] END AS ndcg
         FROM per_query)
       SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries,
              round(avg(ndcg), 5) AS avg_ndcg
       FROM ndcg GROUP BY 1 ORDER BY 1"""
  }

  // --------------------------------------------------------------- q297
  /** Collocation mining: top-20 word bigrams by PMI among pairs seen
    * ≥ 20 times. PMI = ln((c_xy/N2)/((c_x/N1)·(c_y/N1))) is one ln of
    * one exact-integer ratio per row — ranking needs no rounding.
    * One token explode, one window lead, two broadcast joins back to
    * the unigram counts. */
  private def q297(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir)("documents")
    val toks = d.select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z]+"),
          w => length(w) > 0)).as(Seq("pos", "w")))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("cu"))
    val n1 = toks.agg(count(lit(1)).as("n1"))
    val wnd = Window.partitionBy("doc_id").orderBy("pos")
    val big = toks
      .withColumn("w2", lead(col("w"), 1).over(wnd))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("x"), col("w2").as("y"))
      .agg(count(lit(1)).as("cxy"))
    val n2 = big.agg(sum("cxy").as("n2"))
    big.filter(col("cxy") >= 20)
      .join(broadcast(uni.select(col("w").as("x"), col("cu").as("cx"))),
        Seq("x"))
      .join(broadcast(uni.select(col("w").as("y"), col("cu").as("cy"))),
        Seq("y"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi",
        log((col("cxy").cast("double") / col("n2"))
          / ((col("cx").cast("double") / col("n1"))
            * (col("cy").cast("double") / col("n1")))))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(20)
      .select(col("x"), col("y"), col("cxy").cast("long").as("n_pair"),
        round(col("pmi"), 5).as("pmi"))
  }

  private val q297Sql =
    """WITH tl AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                  w -> w <> '') AS t
         FROM documents),
       toks AS (
         SELECT doc_id, s.i AS pos, t[s.i] AS w
         FROM tl, unnest(generate_series(1, len(t))) AS s(i)),
       uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY 1),
       n1 AS (SELECT count(*) AS n1 FROM toks),
       big AS (
         SELECT w AS x,
                lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS y
         FROM toks),
       bc AS (SELECT x, y, count(*) AS cxy FROM big
              WHERE y IS NOT NULL GROUP BY 1, 2),
       n2 AS (SELECT sum(cxy) AS n2 FROM bc),
       pmi AS (
         SELECT x, y, cxy,
                ln((CAST(cxy AS DOUBLE) / n2.n2)
                  / ((CAST(ux.cu AS DOUBLE) / n1.n1)
                    * (CAST(uy.cu AS DOUBLE) / n1.n1))) AS pmi
         FROM bc JOIN uni ux ON bc.x = ux.w
                 JOIN uni uy ON bc.y = uy.w
                 CROSS JOIN n1 CROSS JOIN n2
         WHERE cxy >= 20)
       SELECT x, y, CAST(cxy AS BIGINT) AS n_pair, round(pmi, 5) AS pmi
       FROM pmi ORDER BY pmi DESC, x, y LIMIT 20"""

  // --------------------------------------------------------------- q298
  /** Event dwell-time matrix: for each (event_type → next event_type)
    * transition within a user's stream, the count, mean and median
    * seconds between them. Micros diffs are exact BIGINTs; mean is one
    * division; the median interpolates two integers (q104 parity).
    * One user-keyed window — the q136 paths shuffle, now with time. */
  private def q298(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir)("events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = e
      .withColumn("nxt_type", lead(col("event_type"), 1).over(w))
      .withColumn("dwell_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("nxt_type").isNotNull)
    trans.groupBy(col("event_type").as("from_type"),
        col("nxt_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        sum("dwell_us").as("sum_us"),
        percentile(col("dwell_us"), lit(0.5)).as("p50_us"))
      .select(col("from_type"), col("to_type"),
        col("n").cast("long").as("n"),
        round(col("sum_us").cast("double") / col("n") / 1e6, 4)
          .as("mean_s"),
        round(col("p50_us") / 1e6, 4).as("p50_s"))
      .orderBy("from_type", "to_type")
  }

  private val q298Sql =
    """WITH trans AS (
         SELECT event_type AS from_type,
                lead(event_type) OVER w AS to_type,
                lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dwell_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
              round(CAST(sum(dwell_us) AS DOUBLE) / count(*) / 1e6, 4)
                AS mean_s,
              round(quantile_cont(dwell_us, 0.5) / 1e6, 4) AS p50_s
       FROM trans WHERE to_type IS NOT NULL
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------------------------------- q299
  /** Heaps'-law vocabulary growth: docs stream in doc_id order in ten
    * ntile slices; each term's first-seen slice turns cumulative
    * distinct vocabulary into a plain running sum over the 10-row
    * grid. All integers except the per-row β = lnV/lnN proxy.
    *
    * The corpus-grain slicing rides [[graft.operators.RowIndexer]]
    * (range shuffle + offset stamp + the exact ntile remainder rule),
    * not a single-task global ntile window; the 10-row running sums
    * stay windows because their input is the 10-row grid. */
  private def q299(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RowIndexer
    val d = Tables(s, dir)("documents")
    val base = d.select(col("doc_id"), col("text"))
    val n = base.count()
    // both consumers (token mass, first-seen vocab) read the sliced
    // frame: materialize once so the range shuffle + zipWithIndex
    // lineage doesn't execute twice (the q313/q337 discipline)
    val sliced = RowIndexer.stableIndex(base, Seq(col("doc_id")))
      .select(col("doc_id"),
        RowIndexer.ntileBucket("idx", n, 10).as("slice"),
        filter(split(lower(col("text")), "[^a-z]+"),
          w => length(w) > 0).as("toks"))
      .localCheckpoint()
    val tokCount = sliced.groupBy("slice")
      .agg(sum(size(col("toks"))).as("n_tok"))
    val firstSeen = sliced
      .select(col("slice"), explode(col("toks")).as("w"))
      .groupBy("w").agg(min("slice").as("fs"))
      .groupBy("fs").agg(count(lit(1)).as("new_terms"))
    val wRun = Window.orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCount.join(firstSeen, col("slice") === col("fs"), "left")
      .select(col("slice"), col("n_tok"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("cum_tokens", sum("n_tok").over(wRun))
      .withColumn("cum_vocab", sum("new_terms").over(wRun))
      .select(col("slice").cast("int").as("slice"),
        col("cum_tokens").cast("long").as("cum_tokens"),
        col("cum_vocab").cast("long").as("cum_vocab"),
        round(log(col("cum_vocab").cast("double"))
          / log(col("cum_tokens").cast("double")), 5).as("beta"))
      .orderBy("slice")
  }

  private val q299Sql =
    """WITH sliced AS (
         SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS slice,
                list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                  w -> w <> '') AS toks
         FROM documents),
       tc AS (SELECT slice, sum(len(toks)) AS n_tok
              FROM sliced GROUP BY 1),
       fs AS (
         SELECT min(slice) AS fs, t.w
         FROM sliced, unnest(toks) AS t(w) GROUP BY t.w),
       nt AS (SELECT fs AS slice, count(*) AS new_terms
              FROM fs GROUP BY 1),
       grid AS (
         SELECT tc.slice, tc.n_tok,
                coalesce(nt.new_terms, 0) AS new_terms
         FROM tc LEFT JOIN nt ON tc.slice = nt.slice),
       run AS (
         SELECT slice,
                sum(n_tok) OVER (ORDER BY slice) AS cum_tokens,
                sum(new_terms) OVER (ORDER BY slice) AS cum_vocab
         FROM grid)
       SELECT CAST(slice AS INT) AS slice,
              CAST(cum_tokens AS BIGINT) AS cum_tokens,
              CAST(cum_vocab AS BIGINT) AS cum_vocab,
              round(ln(CAST(cum_vocab AS DOUBLE))
                / ln(CAST(cum_tokens AS DOUBLE)), 5) AS beta
       FROM run ORDER BY slice"""

  // --------------------------------------------------------------- q300
  /** Boilerplate / templated-text detector: per document the repeat
    * rate of its word 5-grams (1 − distinct/total, entirely inside one
    * row — no explode, no shuffle for the n-gram math), rolled up per
    * source with the share of docs beyond a 0.2 threshold. Integer
    * ratios per row; the per-source avg sits behind round(5). */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir)("documents")
    val toks = filter(split(lower(col("text")), "[^a-z]+"),
      w => length(w) > 0)
    val grams = transform(
      sequence(lit(0), size(col("toks")) - 5),
      i => concat_ws(" ", slice(col("toks"), i + 1, lit(5))))
    val perDoc = d.select(col("source"), toks.as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("source"), grams.as("g"))
      .select(col("source"), size(col("g")).as("total"),
        size(array_distinct(col("g"))).as("dist"))
      .select(col("source"),
        (lit(1.0) - col("dist").cast("double") / col("total"))
          .as("rate"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("rate"), 5).as("avg_repeat_rate"),
        round(sum(when(col("rate") > 0.2, 1).otherwise(0))
          .cast("double") / count(lit(1)), 5).as("boilerplate_share"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("avg_repeat_rate"), col("boilerplate_share"))
      .orderBy("source")
  }

  private val q300Sql =
    """WITH toks AS (
         SELECT source,
                list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                  w -> w <> '') AS t
         FROM documents),
       grams AS (
         SELECT source,
                list_transform(generate_series(0, len(t) - 5),
                  i -> array_to_string(t[i + 1:i + 5], ' ')) AS g
         FROM toks WHERE len(t) >= 5),
       per_doc AS (
         SELECT source,
                CAST(1 AS DOUBLE)
                  - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS rate
         FROM grams)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              round(avg(rate), 5) AS avg_repeat_rate,
              round(CAST(sum(CASE WHEN rate > 0.2 THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*), 5) AS boilerplate_share
       FROM per_doc GROUP BY 1 ORDER BY 1"""

  override def queries: Map[String, QueryFn] = Map(
    "q295_cluster_purity" -> q295 _,
    "q296_ndcg"           -> q296 _,
    "q297_collocations"   -> q297 _,
    "q298_dwell_matrix"   -> q298 _,
    "q299_heaps_law"      -> q299 _,
    "q300_boilerplate"    -> q300 _)

  override def oracles: Map[String, String] = Map(
    "q295_cluster_purity" -> q295Sql,
    "q296_ndcg"           -> q296Sql,
    "q297_collocations"   -> q297Sql,
    "q298_dwell_matrix"   -> q298Sql,
    "q299_heaps_law"      -> q299Sql,
    "q300_boilerplate"    -> q300Sql)
}
