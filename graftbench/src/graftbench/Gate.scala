package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Output check for one query: its row count plus an order-independent
  * hash of its rows, computed while the rows stream into the `noop` sink
  * (an `observe` on the written frame), so checking costs no second run.
  *
  * A row hashes through a canonical text form: doubles and floats are
  * rounded to 9 significant digits, so a summation order that differs in
  * the last bits between core counts does not change the hash. The 64-bit
  * row hashes are summed in two 32-bit halves, which keeps the result
  * independent of row order but sensitive to duplicated or missing rows.
  */
object Gate {

  private val sig = new MathContext(9)

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('~')
    case d: Double => fp(d, sb)
    case f: Float => fp(f.toDouble, sb)
    case b: JBigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
    case b: scala.math.BigDecimal => sb.append(b.bigDecimal.stripTrailingZeros.toPlainString)
    case bytes: Array[Byte] => bytes.foreach(x => sb.append("%02x".format(x)))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); canon(r.get(i), sb); i += 1 }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) =>
        val s = new java.lang.StringBuilder
        canon(k, s); s.append("->"); canon(x, s); s.toString
      }.sorted
      sb.append('{').append(kv.mkString(",")).append('}')
    case xs: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); canon(x, sb); first = false }
      sb.append(']')
    case other => sb.append(other.toString)
  }

  private def fp(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d.toString)
    else if (d == 0.0) sb.append('0')
    else sb.append(new JBigDecimal(d).round(sig).stripTrailingZeros.toString)

  /** 64-bit hash of one row's canonical form. */
  def rowHash(r: Row): Long = {
    val sb = new java.lang.StringBuilder
    canon(r, sb)
    val d = MessageDigest.getInstance("MD5").digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  private val hashUdf = udf((r: Row) => rowHash(r))

  /** The frame to write plus the observation that yields its digest. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(cols: _*)
    val h: Column = hashUdf(struct(cols.map(col): _*))
    val obs = Observation()
    val out = renamed.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
    (out, obs)
  }

  /** "rows:lo:hi" — the recorded and compared form. */
  def digest(obs: Observation): String = {
    val m = obs.get
    s"${m("rows")}:${m("lo")}:${m("hi")}"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
