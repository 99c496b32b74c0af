package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.etl.CapstonePipeline

/** Expected query outputs: recorded once from the engine on the generated
  * query tables (which do not depend on the run's seed), then compared
  * against on every run. */
object Recorder {
  /** Seed of the query tables; the run's seed only orders the queries. */
  val DataSeed = 42L

  private val Entry = "\"(q[^\"]+)\"\\s*:\\s*\"([0-9]+:[0-9]+:[0-9]+)\"".r

  def readExpected(p: Path): Map[String, String] =
    Entry.findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  private def digestOf(df: DataFrame): String = {
    val (sink, obs) = Gate.observed(df)
    sink.write.format("noop").mode("overwrite").save()
    Gate.digest(obs)
  }

  /** Runs every query of both mixes twice and writes their digests; a
    * query whose two digests differ is not deterministic enough to gate
    * and stops the recording. */
  def record(spark: SparkSession, args: Main.Args): Unit = {
    val dir = args.work.resolve("inputs").resolve("record")
    DataGen.queryTables(spark, dir, Main.QuerySf, DataSeed)
    Tables(spark, dir.toString).registerAll()
    val names = (Main.relational ++ Main.dedupAnn).sorted
    val digests = names.map { n =>
      val a = digestOf(SparkEntry.queries(n)(spark, dir.toString))
      val b = digestOf(SparkEntry.queries(n)(spark, dir.toString))
      require(a == b, s"$n is not deterministic: $a vs $b")
      println(s"# $n $a")
      n -> a
    }
    val body = digests.map { case (n, d) => s"""    "$n": "$d"""" }.mkString(",\n")
    Main.write(args.expected,
      s"""{\n  "data_seed": $DataSeed,\n  "sf": ${Main.QuerySf},\n  "format": "rows:sum_lo32:sum_hi32",\n""" +
      s"""  "queries": {\n$body\n  }\n}\n""")
    println(s"# wrote ${args.expected}")
  }
}

/** Shows that the correctness gate rejects perturbed outputs: for one
  * query and for the capstone quality report, the true output passes and
  * every perturbation of it fails. */
object SelfTest {

  def run(spark: SparkSession, args: Main.Args): Boolean = {
    var ok = true
    def expect(what: String, caught: Boolean): Unit = {
      println(s"# self-test ${if (caught) "ok  " else "FAIL"} $what")
      ok &&= caught
    }

    // Query gate.
    val dir = args.work.resolve("inputs").resolve("self-test")
    DataGen.queryTables(spark, dir, Main.QuerySf, Recorder.DataSeed)
    Tables(spark, dir.toString).registerAll()
    val name = "q13_window_topk"
    val want = Recorder.readExpected(args.expected)(name)
    def digest(df: DataFrame): String = {
      val (sink, obs) = Gate.observed(df)
      sink.write.format("noop").mode("overwrite").save()
      Gate.digest(obs)
    }
    val df = SparkEntry.queries(name)(spark, dir.toString)
    expect(s"$name true output matches the recorded digest", digest(df) == want)
    val n = Gate.rows(want).toInt
    val num = df.schema.fields.find(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).getOrElse(sys.error(s"$name has no numeric column to perturb"))
    val perturbed = Seq(
      "one row dropped" -> df.limit(n - 1),
      "one row duplicated" -> df.union(df.limit(1)),
      s"one value of $num changed by 1e-6 relative" ->
        df.withColumn(num, when(monotonically_increasing_id() === 0,
          col(num) * 1.000001 + 1e-6).otherwise(col(num))))
    perturbed.foreach { case (what, p) => expect(s"$name $what is caught", digest(p) != want) }

    // Capstone gate: one real pass must match what was planted, and each
    // perturbation of its outputs must not.
    val in = args.work.resolve("inputs").resolve("self-test-etl")
    val out = args.work.resolve("inputs").resolve("self-test-etl-out")
    val planted = DataGen.capstone(spark, in, 20000L, args.seed)
    val dups = CapstonePipeline.duplicateAdmnumCount(spark, s"$in/sas_data")
    CapstonePipeline.run(spark, in.toString, out.toString)
    val staged = CapstonePipeline.readData(spark, out.toString)
    val report = CapstonePipeline.qualityReport(spark, staged).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ex = CapstonePipeline.exampleQuery(staged).collect()
    val exRows = ex.length.toLong
    val imm = ex.map(_.getAs[Long]("n_immigrants")).sum
    def bad(d: Long, r: Map[String, Long], rows: Long, i: Long) =
      EtlWorkload.check(planted, d, r, rows, i).nonEmpty
    expect("capstone true output matches the planted counts", !bad(dups, report, exRows, imm))
    val edge = "orphans:immigration.i94addr->demographics.State Code"
    expect("capstone orphan count off by one is caught", bad(dups, report.updated(edge, report(edge) + 1), exRows, imm))
    expect("capstone missing report row is caught", bad(dups, report - "rows:i94date", exRows, imm))
    expect("capstone fact row count off by one is caught",
      bad(dups, report.updated("rows:immigration", report("rows:immigration") - 1), exRows, imm))
    expect("capstone duplicate-admnum count off by one is caught", bad(dups + 1, report, exRows, imm))
    expect("capstone example query losing a row is caught", bad(dups, report, exRows, imm - 1))
    println(s"# self-test ${if (ok) "passed" else "FAILED"}")
    ok
  }
}
