package graft.quality

import graft.GraftTestBase

class ChecksSpec extends GraftTestBase {
  import spark.implicits._

  test("fkIntegrity: null FKs are not orphans; real orphans counted distinct") {
    val child = Seq(Some(1L), Some(1L), Some(99L), Some(99L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val out = Checks.fkIntegrity(Seq(
        Checks.FkEdge("child.fk->parent", child, "fk", parent, "pk")))
      .collect().head
    // 99 appears twice but counts once; the null row is ignored
    assert(out.getAs[Long]("orphan_keys") == 1L)
  }

  test("nullProfile counts NaN as bad only for floating columns") {
    val df = Seq((Double.NaN, "x"), (1.0, null.asInstanceOf[String]))
      .toDF("d", "s")
    val row = Checks.nullProfile(df).collect().head
    assert(row.getDouble(0) == 0.5) // NaN counted
    assert(row.getDouble(1) == 0.5) // null counted
  }

  test("observed metrics accumulate during the action, no extra pass") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables(spark, sf001)("lineitem")
    val (df, obs) = Checks.observed(li, "li_quality", Map(
      "n_rows"    -> count(lit(1)),
      "n_null_qty"-> sum(when($"l_quantity".isNull, 1L).otherwise(0L)),
      "max_price" -> max($"l_extendedprice")))
    val written = df.filter($"l_quantity" > 0).count() // the one action
    val m = obs.get
    assert(m("n_rows") == li.count())
    assert(m("n_null_qty") == 0L)
    assert(m("max_price").asInstanceOf[Double] > 0.0)
    assert(written > 0)
  }

  test("approxQuantile (GK sketch) honors its rank-error guarantee vs exact") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables(spark, sf001)("lineitem")
    val n = li.count().toDouble
    val eps = 0.01
    val probs = Array(0.25, 0.5, 0.75)
    val approx = li.stat.approxQuantile("l_extendedprice", probs, eps)
    probs.zip(approx).foreach { case (p, a) =>
      // the guarantee is on RANK: the returned value's true rank must
      // lie within eps*n of the target rank
      val frac = li.filter(col("l_extendedprice") <= a).count() / n
      assert(frac >= p - eps - 1e-9 && frac <= p + eps + 1.0 / n,
        s"p=$p approx=$a landed at rank-fraction $frac")
    }
  }

  test("rowCounts reports every table") {
    val out = Checks.rowCounts(Seq(
        "a" -> Seq(1, 2, 3).toDF("x"), "b" -> Seq.empty[Int].toDF("x")))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(out == Map("a" -> 3L, "b" -> 0L))
  }
}
