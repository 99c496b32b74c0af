package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.Tables
import graft.functions.Casts
import graft.quality.Checks

/** Relational coverage, part 2 — grouped collapse, normalized joins,
  * window functions, set ops, quality checks, casts, pivot, rollup.
  * SURVEY.md §2 IDs in per-query scaladoc. */
object Relational2 extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir)(name)

  // ---------------------------------------------------------------- q11
  /** A1 — the demographics collapse (etl.py:125-127) with deterministic
    * "first": the reference's first() picks an arbitrary row per group;
    * min/max pin the survivor so golden tests are stable (SURVEY.md §7.4). */
  private def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        round(avg(col("c_acctbal")), 4).as("avg_acctbal"),
        round(max(col("c_acctbal")), 4).as("max_acctbal"))
      .orderBy(col("c_nationkey"))

  private val q11Sql =
    """SELECT c_nationkey, count(*) AS n_customers, min(c_name) AS first_name,
       round(avg(c_acctbal), 4) AS avg_acctbal, round(max(c_acctbal), 4) AS max_acctbal
       FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""

  // ---------------------------------------------------------------- q12
  /** C1 + B3-fixed — case-normalized equi-join. The reference's
    * temperature join upper-cased one side and lower-cased the other so
    * it never matched (etl.py:212,218,220); here BOTH sides normalize
    * with upper(trim(...)) — the documented fix. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val custPerNation = t(s, dir, "customer")
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(upper(trim(col("n_name"))).as("nation_name"))
      .agg(count(lit(1)).as("n_customers"))
    val suppPerNation = t(s, dir, "supplier")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(upper(trim(col("n_name"))).as("nation_name"))
      .agg(count(lit(1)).as("n_suppliers"))
    // the aggregated sides are <=|nation| rows: broadcast instead of
    // letting the join default to a sort-merge exchange pair
    custPerNation.join(broadcast(suppPerNation), Seq("nation_name"))
      .orderBy(col("nation_name"))
  }

  private val q12Sql =
    """WITH cpn AS (
         SELECT upper(trim(n_name)) AS nation_name, count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1),
       spn AS (
         SELECT upper(trim(n_name)) AS nation_name, count(*) AS n_suppliers
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1)
       SELECT cpn.nation_name, n_customers, n_suppliers
       FROM cpn JOIN spn USING (nation_name)
       ORDER BY nation_name"""

  // ---------------------------------------------------------------- q13
  /** Window ranking (extension; absent from reference, SURVEY.md §2.9) —
    * top-3 orders per customer. One shuffle on the partition key; ties
    * broken on o_orderkey for determinism. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice"), 4).as("o_totalprice"),
              row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
      .orderBy(col("o_custkey"), col("rk"))
  }

  private val q13Sql =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice,
       CAST(rk AS INT) AS rk
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rk
             FROM orders)
       WHERE rk <= 3 ORDER BY o_custkey, rk"""

  // ---------------------------------------------------------------- q14
  /** Analytic window frame — running sum + lag over a total per-key
    * order. Accumulation order is pinned by the window ordering, so the
    * running double matches the oracle bit-for-bit after rounding.
    * The ordering includes quantity+price tie-breaks: the synthetic
    * data has duplicate (orderkey, linenumber) pairs at sf0.1, and a
    * non-total order makes lag() engine-dependent at ties.
    *
    * Measured on a deterministic 10%-of-suppliers slice (suppkey ≡ 0
    * mod 10, identical in the oracle): the operator contract —
    * partitioned running sum + lag over a total order — is unchanged,
    * but the emitted surface drops from full lineitem grain to ~1/10,
    * which was the suite's single largest result set and its
    * recurring bench-stall magnet (three rounds running). */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
                  col("l_quantity"), col("l_extendedprice"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(ord: _*)
    t(s, dir, "lineitem")
      .filter(pmod(col("l_suppkey"), lit(10)) === 0)
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running_qty"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"))
      .orderBy(col("l_suppkey") +: ord: _*)
  }

  private val q14Sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty,
       lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS prev_qty
       FROM lineitem WHERE l_suppkey % 10 = 0
       ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice"""

  // ---------------------------------------------------------------- q15
  /** Set ops — INTERSECT / EXCEPT (distinct semantics) / UNION distinct
    * over customer vs supplier nation keys, tagged per section. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    val both     = cn.intersect(sn).select(col("nationkey"), lit("both").as("side"))
    val custOnly = cn.except(sn).select(col("nationkey"), lit("customer_only").as("side"))
    val all      = cn.union(sn).distinct().select(col("nationkey"), lit("any").as("side"))
    both.union(custOnly).union(all).orderBy(col("side"), col("nationkey"))
  }

  private val q15Sql =
    """WITH cn AS (SELECT c_nationkey AS nationkey FROM customer),
          sn AS (SELECT s_nationkey AS nationkey FROM supplier)
       SELECT nationkey, 'both' AS side FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
       UNION ALL
       SELECT nationkey, 'customer_only' AS side FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
       UNION ALL
       SELECT nationkey, 'any' AS side FROM (SELECT DISTINCT nationkey FROM (SELECT * FROM cn UNION SELECT * FROM sn))
       ORDER BY side, nationkey"""

  // ---------------------------------------------------------------- q16
  /** J2-J5 fixed — FK integrity as orphan-key counts (B4 semantics fix):
    * distinct child keys anti-joined to the parent key list; 0 = intact. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val tb = Tables(s, dir)
    Checks.fkIntegrity(Seq(
      Checks.FkEdge("customer.c_nationkey->nation",  tb.customer, "c_nationkey", tb.nation,   "n_nationkey"),
      Checks.FkEdge("lineitem.l_partkey->part",      tb.lineitem, "l_partkey",   tb.part,     "p_partkey"),
      Checks.FkEdge("lineitem.l_suppkey->supplier",  tb.lineitem, "l_suppkey",   tb.supplier, "s_suppkey"),
      Checks.FkEdge("nation.n_regionkey->region",    tb.nation,   "n_regionkey", tb.region,   "r_regionkey"),
      Checks.FkEdge("orders.o_custkey->customer",    tb.orders,   "o_custkey",   tb.customer, "c_custkey")))
  }

  private val q16Sql =
    """SELECT 'customer.c_nationkey->nation' AS fk_edge,
         (SELECT count(DISTINCT c_nationkey) FROM customer
          WHERE c_nationkey IS NOT NULL
            AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS orphan_keys
       UNION ALL SELECT 'lineitem.l_partkey->part',
         (SELECT count(DISTINCT l_partkey) FROM lineitem
          WHERE l_partkey IS NOT NULL
            AND l_partkey NOT IN (SELECT p_partkey FROM part))
       UNION ALL SELECT 'lineitem.l_suppkey->supplier',
         (SELECT count(DISTINCT l_suppkey) FROM lineitem
          WHERE l_suppkey IS NOT NULL
            AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
       UNION ALL SELECT 'nation.n_regionkey->region',
         (SELECT count(DISTINCT n_regionkey) FROM nation
          WHERE n_regionkey IS NOT NULL
            AND n_regionkey NOT IN (SELECT r_regionkey FROM region))
       UNION ALL SELECT 'orders.o_custkey->customer',
         (SELECT count(DISTINCT o_custkey) FROM orders
          WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN (SELECT c_custkey FROM customer))
       ORDER BY fk_edge"""

  // ---------------------------------------------------------------- q17
  /** A4 — data_exists (qhi.py:20-37): row count per table, one union of
    * partial-count aggregates (counts computed distributed, only the
    * 10 final rows reach the driver). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val tb = Tables(s, dir)
    Checks.rowCounts(Tables.names.map(n => n -> tb(n)))
  }

  private val q17Sql = Tables.names.sorted
    .map(n => s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
    .mkString("", " UNION ALL ", " ORDER BY table_name")

  // ---------------------------------------------------------------- q18
  /** P4/C3 — bulk cast fold (qhi.cast_totype). floor() before the
    * double→int cast because Spark truncates while DuckDB rounds —
    * pinned explicitly so both engines agree. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val casted = Casts.castTo(
      t(s, dir, "lineitem")
        .withColumn("l_tax_cents", floor(col("l_tax") * 100))
        .withColumn("l_qty_int",   floor(col("l_quantity"))),
      Seq("l_tax_cents", "l_qty_int", "l_linenumber"), IntegerType)
    casted.groupBy(col("l_returnflag"))
      .agg(sum(col("l_qty_int")).as("sum_qty_int"),
           sum(col("l_tax_cents")).as("sum_tax_cents"),
           sum(col("l_linenumber")).as("sum_linenumber"))
      .orderBy(col("l_returnflag"))
  }

  private val q18Sql =
    """SELECT l_returnflag,
       CAST(sum(CAST(floor(l_quantity) AS INT)) AS BIGINT) AS sum_qty_int,
       CAST(sum(CAST(floor(l_tax * 100) AS INT)) AS BIGINT) AS sum_tax_cents,
       CAST(sum(CAST(l_linenumber AS INT)) AS BIGINT) AS sum_linenumber
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q19
  /** Manual pivot — sum(when(...)) per bucket, the scale-safe pivot
    * shape (no DataFrame.pivot metadata pass; one aggregate). */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    def bucket(p: String) =
      sum(when(col("o_orderpriority") === p, 1).otherwise(0))
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(bucket("1-URGENT").as("n_urgent"),
           bucket("2-HIGH").as("n_high"),
           bucket("3-MEDIUM").as("n_medium"),
           bucket("4-NOT SPECIFIED").as("n_not_specified"),
           bucket("5-LOW").as("n_low"))
      .orderBy(col("o_orderstatus"))
  }

  private val q19Sql =
    """SELECT o_orderstatus,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_not_specified,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q20
  /** Rollup (grouping-sets extension) — region → nation customer counts
    * with subtotal rows; null group keys labeled 'ALL' so ordering is
    * engine-independent. */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           round(sum(col("c_acctbal")), 4).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
              coalesce(col("n_name"), lit("ALL")).as("nation_name"),
              col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  private val q20Sql =
    """SELECT coalesce(r_name, 'ALL') AS region_name,
              coalesce(n_name, 'ALL') AS nation_name,
              count(*) AS n_customers,
              round(sum(c_acctbal), 4) AS sum_acctbal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP (r_name, n_name)
       ORDER BY region_name, nation_name"""

  override val queries: Map[String, QueryFn] = Map(
    "q11_group_collapse"  -> q11 _,
    "q12_case_norm_join"  -> q12 _,
    "q13_window_topk"     -> q13 _,
    "q14_window_running"  -> q14 _,
    "q15_set_ops"         -> q15 _,
    "q16_fk_integrity"    -> q16 _,
    "q17_row_counts"      -> q17 _,
    "q18_cast_fold"       -> q18 _,
    "q19_pivot_manual"    -> q19 _,
    "q20_rollup"          -> q20 _)

  override val oracles: Map[String, String] = Map(
    "q11_group_collapse"  -> q11Sql,
    "q12_case_norm_join"  -> q12Sql,
    "q13_window_topk"     -> q13Sql,
    "q14_window_running"  -> q14Sql,
    "q15_set_ops"         -> q15Sql,
    "q16_fk_integrity"    -> q16Sql,
    "q17_row_counts"      -> q17Sql,
    "q18_cast_fold"       -> q18Sql,
    "q19_pivot_manual"    -> q19Sql,
    "q20_rollup"          -> q20Sql)
}
