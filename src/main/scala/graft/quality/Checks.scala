package graft.quality

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality checks, re-expressed with fixed semantics.
  *
  * Reference: `qhi.py` — `data_exists` (row-count check, qhi.py:20-37),
  * `check_integrity` (FK inner-join counts, qhi.py:39-91), and the
  * notebook's one-pass 28-column null profile (NB:283-284, cell 12).
  *
  * Divergences from the reference, both intentional (SURVEY.md §2.10 B4):
  *   - `check_integrity` returned the AND of *failure* flags (True meant
  *     "everything failed"). Here each FK edge yields an unambiguous
  *     orphan-key count (0 = pass), computed with a left-anti join instead
  *     of the reference's inverted inner-join-count-==-0 test.
  *   - results come back as DataFrames so they compose with the rest of a
  *     plan instead of printing to the console.
  *
  * `nullProfile` and `rowCounts` are distributed aggregates, one pass
  * per table; the null profile is one wide partial+final aggregate
  * regardless of column count. FK orphans come in two forms, chosen by
  * the size of the parents:
  *   - `fkIntegrity` (distinct + left-anti join per edge) when a parent
  *     is itself large (TPC-H `part`, `supplier`): nothing is collected
  *     to the driver, at one child scan per edge;
  *   - `starIntegrity` when every parent is a lookup dim of a star
  *     schema: the dims' key columns are collected to the driver and
  *     the fact is scanned once, by one aggregate that tests each FK
  *     against its dim's keys as an `InSet` (no Expand, no join).
  */
object Checks {

  /** Per-column null/NaN fraction in ONE pass (reference A3).
    * `avg(CASE WHEN bad THEN 1 ELSE 0 END)` folds the reference's
    * `count(when(...))/total` two-step into a single aggregate. `isnan`
    * only applies to floating columns (it errors on dates/strings). */
  def nullProfile(df: DataFrame, scale: Int = 6): DataFrame = {
    val aggs: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c   = col(f.name)
      val bad = f.dataType match {
        case DoubleType | FloatType => c.isNull || isnan(c)
        case _                      => c.isNull
      }
      round(avg(when(bad, 1.0).otherwise(0.0)), scale).as(f.name)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Row-count per table (reference `data_exists`): (table_name, n_rows). */
  def rowCounts(tables: Seq[(String, DataFrame)]): DataFrame = {
    val counted = tables.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("table_name"), col("n_rows"))
    }
    counted.reduce(_.union(_)).orderBy("table_name")
  }

  /** Zero-cost pipeline observability: attach named metrics to a
    * DataFrame with `observe()` — Spark's CollectMetrics operator
    * accumulates them DURING whatever action runs the plan, so quality
    * numbers (row count, null count, value bounds) cost no extra pass
    * over the data, unlike rowCounts/nullProfile which are their own
    * jobs. Read the result from the returned observation after the
    * action completes. At 100 TB "free metrics on the write job" vs "a
    * second full scan" is the whole game for pipeline QA. */
  def observed(df: DataFrame, name: String, metrics: Map[String, Column])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observed() needs at least one metric column")
    val obs = org.apache.spark.sql.Observation(name)
    val exprs = metrics.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }
    (df.observe(obs, exprs.head, exprs.tail: _*), obs)
  }

  /** One FK edge: child[fk] must exist in parent[pk]. */
  final case class FkEdge(name: String, child: DataFrame, fk: String,
                          parent: DataFrame, pk: String)

  /** FK integrity with fixed semantics: per edge, the count of DISTINCT
    * child keys with no parent (0 = intact). Distinct-before-join keeps
    * the anti-join input small (reference's own trick, qhi.py:53), and the
    * parent side is a key list Catalyst can broadcast. Null FKs are not
    * orphans (SQL FK semantics), and neither are NaN FKs (`na.drop()`).
    *
    * This is the form for large parents: each edge's scan prunes to a
    * single FK column and the distinct compresses map-side before the
    * join, and no key set has to fit on the driver. A fused multi-edge
    * form that still joins needs an Expand over the full child (k× the
    * rows, no pre-join compression), measured 2x slower at sf0.1. When
    * the parents are small lookup dims, `starIntegrity` avoids both the
    * per-edge scans and the Expand. */
  def fkIntegrity(edges: Seq[FkEdge]): DataFrame = {
    val perEdge = edges.map { e =>
      val orphans = e.child.select(col(e.fk).as("k")).na.drop().distinct()
        .join(e.parent.select(col(e.pk).as("k")).distinct(), Seq("k"), "left_anti")
      orphans.agg(count(lit(1)).as("orphan_keys"))
        .select(lit(e.name).as("fk_edge"), col("orphan_keys"))
    }
    perEdge.reduce(_.union(_)).orderBy("fk_edge")
  }

  /** One FK edge of a star schema: `fact[fk]` must exist in `dim[pk]`.
    * `dimName` names the dim's row count. */
  final case class StarEdge(name: String, fk: String, dimName: String,
                            dim: DataFrame, pk: String)

  /** Row counts and FK orphan counts of a star schema, reading each table
    * once. All dims' key columns are collected to the driver in ONE job:
    * a union of one projection per edge, `(edge, k0..kn)`, where `k_i`
    * holds edge i's key and the other columns are typed nulls. Each
    * edge's rows give its dim's row count, and their non-null keys the
    * key set. The fact is then scanned by ONE aggregate: `count(1)`
    * plus, per edge, `size(collect_set(when(NOT fk IN keys, fk)))`.
    * Null and NaN FKs and matched keys become null, which `collect_set`
    * drops, so each set holds only that edge's orphan keys. The semantics
    * are `fkIntegrity`'s: distinct FKs, neither null nor NaN, with no
    * parent key, compared in the type the analyzer coerces both sides
    * to, with -0.0 equal to 0.0 as in a join key (`InSet` and
    * `collect_set` compare doubles that way).
    *
    * Driver memory: every dim's key column, plus each edge's distinct
    * orphan keys in the aggregate's result. Use `fkIntegrity` when a
    * parent is too large for that.
    *
    * Runs its jobs when called and returns a local `(check, value)`
    * frame sorted by `check`: `rows:<table>` for the fact and each dim,
    * `orphans:<edge>` per edge. Collecting it launches no job. */
  def starIntegrity(factName: String, fact: DataFrame, edges: Seq[StarEdge]): DataFrame = {
    require(edges.map(_.dimName).distinct.size == edges.size,
      "starIntegrity takes one edge per dim")
    val types = edges.map(e => e.dim.select(col(e.pk)).schema.head.dataType)
    val byEdge = edges.zipWithIndex.map { case (e, i) =>
      val ks = types.zipWithIndex.map { case (t, j) =>
        (if (j == i) col(e.pk) else lit(null).cast(t)).as(s"k$j")
      }
      e.dim.select(lit(i).as("edge") +: ks: _*)
    }.reduceOption(_.union(_)).fold(Map.empty[Int, Array[Row]])(_.collect().groupBy(_.getInt(0)))
    val keyed = edges.zipWithIndex.map { case (e, i) =>
      val keys = byEdge.getOrElse(i, Array.empty[Row]).map(_.get(i + 1))
      (e, keys.length.toLong, keys.filter(_ != null).distinct.toSeq)
    }
    val orphanSets = keyed.map { case (e, _, keys) =>
      val fk = nanAsNull(fact, e.fk)
      size(collect_set(when(!fk.isin(keys: _*), fk)))
    }
    val r = fact.agg(count(lit(1)), orphanSets: _*).head()
    val checks = (s"rows:$factName" -> r.getLong(0)) +:
      keyed.zipWithIndex.flatMap { case ((e, n, _), i) =>
        Seq(s"rows:${e.dimName}" -> n, s"orphans:${e.name}" -> r.getInt(i + 1).toLong)
      }
    fact.sparkSession.createDataFrame(
      checks.sortBy(_._1).map { case (c, v) => Row(c, v) }.asJava,
      StructType(Seq(StructField("check", StringType, nullable = false),
                     StructField("value", LongType, nullable = false))))
  }

  /** `df[name]`, with NaN as null as `na.drop()` treats it; `collect_set`
    * would also keep every NaN as its own element. */
  private def nanAsNull(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case DoubleType | FloatType => when(!isnan(col(name)), col(name))
      case _ => col(name)
    }
}
