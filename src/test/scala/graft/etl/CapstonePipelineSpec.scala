package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftTestBase

/** The capstone pipeline end to end, with no external mount: small
  * deterministic inputs shaped like FIXTURES.md §A1-A3 are written to a
  * temp dir, then run → readData → qualityReport → exampleQuery must
  * report exactly the defects planted in them, in both compat modes. */
class CapstonePipelineSpec extends GraftTestBase {

  // ------------------------------------------------------------ inputs

  private val factRows = 1000L

  /** `;`-delimited, (city, race) grain, UTF-8 BOM on `City`; 4 cities in
    * CA, NY and TX; one empty (null) veterans field. */
  private val demographicsCsv =
    "\uFEFFCity;State;Median Age;Male Population;Female Population;Total Population;" +
      "Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count\n" +
      "Alpha;California;33.8;40601;41862;82463;1562;30908;2.6;CA;Hispanic or Latino;25819\n" +
      "Alpha;California;33.8;40601;41862;82463;1562;30908;2.6;CA;White;58723\n" +
      "Beta;California;41.5;27025;28391;55416;;12034;3.18;CA;Asian;4759\n" +
      "Gamma;New York;36.1;91214;95617;186831;4014;70129;2.41;NY;Black or African-American;50210\n" +
      "Delta;Texas;29.4;65433;64112;129545;6101;21554;2.99;TX;White;98731\n" +
      "Delta;Texas;29.4;65433;64112;129545;6101;21554;2.99;TX;Asian;2206\n"

  /** Codes 101-110, no trailing newline. */
  private val countryCsv =
    "Code,I94CTRY\n" + (101 to 110).map {
      case 107 => "107,INVALID: STATELESS"
      case 110 => "110,No Country Code (110)"
      case c => s"$c,COUNTRY ${('A' + c - 101).toChar}"
    }.mkString("\n")

  private val id = col("id")
  private def every(m: Int, r: Int): Column = id % m === r
  private def nth(m: Int): Column = (id / m).cast(IntegerType)
  private def pick(xs: Column*)(i: Column): Column = element_at(array(xs: _*), i + 1)

  /** The I94 fact in the reference's 28-column order (§A1), with planted
    * defects. Orphan keys: i94res 900-902 (rows ≡ 5 mod 97), i94addr
    * QA/QB (≡ 3 mod 89), i94visa 4 (≡ 4 mod 83), i94mode 5 (≡ 6 mod 79).
    * i94mode is null on rows ≡ 0 mod 40 (filled 9, or 0 in compat mode),
    * i94addr on ≡ 7 mod 50. SAS day 0 on ≡ 3 mod 200. admnum repeats the
    * previous row's on ≡ 1 mod 100 (10 duplicates) and is null on
    * ≡ 50 mod 100 (10 rows, 9 duplicates). */
  private def fact: DataFrame = spark.range(0, factRows, 1, 2).select(
    (id + 1).cast(DoubleType).as("cicid"),
    lit(2016.0).as("i94yr"),
    lit(4.0).as("i94mon"),
    (id % 10 + 101).cast(DoubleType).as("i94cit"),
    when(every(97, 5), nth(97) % 3 + 900).otherwise(id % 10 + 101).cast(DoubleType).as("i94res"),
    lit("NYC").as("i94port"),
    when(every(200, 3), lit(0)).otherwise(id % 30 + 20545).cast(DoubleType).as("arrdate"),
    when(every(79, 6), lit(5.0)).when(every(40, 0), lit(null).cast(DoubleType))
      .otherwise(pick(lit(1.0), lit(2.0), lit(3.0), lit(9.0))((id % 4).cast(IntegerType)))
      .as("i94mode"),
    when(every(89, 3), pick(lit("QA"), lit("QB"))(nth(89) % 2))
      .when(every(50, 7), lit(null).cast(StringType))
      .otherwise(pick(lit("CA"), lit("NY"), lit("TX"))((id % 3).cast(IntegerType))).as("i94addr"),
    (id % 30 + 20550).cast(DoubleType).as("depdate"),
    (id % 60 + 20).cast(DoubleType).as("i94bir"),
    when(every(83, 4), lit(4)).otherwise(id % 3 + 1).cast(DoubleType).as("i94visa"),
    lit(1.0).as("count"),
    lit("20160401").as("dtadfile"),
    lit(null).cast(StringType).as("visapost"),
    lit(null).cast(StringType).as("occup"),
    lit("G").as("entdepa"),
    lit("O").as("entdepd"),
    lit(null).cast(StringType).as("entdepu"),
    lit("M").as("matflag"),
    (lit(1996.0) - id % 60).as("biryear"),
    lit("10292016").as("dtaddto"),
    pick(lit("F"), lit("M"))((id % 2).cast(IntegerType)).as("gender"),
    lit(null).cast(StringType).as("insnum"),
    lit("AA").as("airline"),
    when(every(100, 50), lit(null).cast(DoubleType))
      .otherwise(lit(5.0e10) + when(every(100, 1), id - 1).otherwise(id)).as("admnum"),
    lit("00123").as("fltno"),
    lit("B2").as("visatype"))

  private val plantedDuplicates = 19L
  private val orphanResRows = 11L // rows ≡ 5 mod 97 below 1000

  private def writeInputs(root: Path): Path = {
    Files.write(root.resolve("us-cities-demographics.csv"), demographicsCsv.getBytes(UTF_8))
    Files.write(root.resolve("I94CIT_I94RES.csv"), countryCsv.getBytes(UTF_8))
    fact.write.parquet(root.resolve("sas_data").toString)
    root
  }
  private lazy val dataRoot: Path = writeInputs(Files.createTempDirectory("graft_capstone_in"))
  private def input(leaf: String): String = dataRoot.resolve(leaf).toString

  // ------------------------------------------------------ staged shape

  private val I = IntegerType; private val D = DoubleType; private val S = StringType
  private val stagedColumns: Map[String, Seq[(String, DataType)]] = Map(
    "immigration" -> Seq("cicid" -> D, "i94yr" -> D, "i94mon" -> D, "i94cit" -> D,
      "i94res" -> I, "i94port" -> S, "arrdate" -> D, "i94mode" -> I, "i94addr" -> S,
      "depdate" -> D, "i94bir" -> D, "i94visa" -> D, "dtadfile" -> S, "gender" -> S,
      "airline" -> S, "visatype" -> S),
    "i94visa" -> Seq("vid" -> I, "visatype" -> S),
    "i94mode" -> Seq("i94mode" -> I, "trans_mode" -> S),
    "us_cities_demographics" -> Seq("City" -> S, "State" -> S, "State Code" -> S,
      "median_age" -> D, "male_population" -> I, "female_population" -> I,
      "total_population" -> I),
    "country" -> Seq("Code" -> I, "I94CTRY" -> S, "AverageTemperature" -> D,
      "Latitude" -> S, "Longitude" -> S),
    "i94date" -> Seq("arrival_sasdate" -> D, "arrival_date" -> S, "arrival_month" -> I,
      "arrival_year" -> I, "arrival_day" -> I, "day_of_week" -> I,
      "arrival_weekofyear" -> I))

  private def plantedReport(compat: CompatConfig): Map[String, Long] = Map(
    "rows:immigration" -> factRows,
    "rows:i94visa" -> 3L,
    "rows:i94mode" -> 4L,
    "rows:us_cities_demographics" -> 4L,
    "rows:country" -> 10L,
    "rows:i94date" -> 31L, // 30 April days + SAS day 0
    "orphans:immigration.i94res->country.Code" -> 3L,
    "orphans:immigration.i94addr->demographics.State Code" -> 2L,
    "orphans:immigration.i94visa->i94visa.vid" -> 1L,
    // compat fills null modes with 0, which no mode row carries (B2)
    "orphans:immigration.i94mode->i94mode.i94mode" -> (if (compat.fillI94ModeWithZero) 2L else 1L),
    "orphans:immigration.arrdate->i94date.arrival_sasdate" -> 0L)

  // ------------------------------------------------------------- tests

  Seq("fixed" -> CompatConfig.fixed, "referenceCompat" -> CompatConfig.referenceCompat)
    .foreach { case (mode, compat) =>
      test(s"run → readData → qualityReport → exampleQuery on planted inputs ($mode)") {
        val out = Files.createTempDirectory(s"graft_capstone_$mode").toString
        CapstonePipeline.run(spark, dataRoot.toString, out, None, compat)
        val staged = CapstonePipeline.readData(spark, out)

        staged.all.foreach { case (table, df) =>
          assert(df.schema.map(f => f.name -> f.dataType) == stagedColumns(table), table)
        }
        val report = CapstonePipeline.qualityReport(spark, staged).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(report == plantedReport(compat))

        val example = CapstonePipeline.exampleQuery(staged).collect()
        assert(example.length == 10)
        assert(example.map(_.getAs[Long]("n_immigrants")).sum == factRows - orphanResRows)
        val names = example.map(_.getAs[String]("I94CTRY")).toSet
        assert(names.contains(if (compat.caseMismatchedCountryJoin) "country a" else "COUNTRY A"))

        // SAS day 0 is 1960-01-01 unless compat nulls it (B5)
        val day0 = staged.calendar.filter(col("arrival_sasdate") === 0.0)
          .select("arrival_date").collect().map(r => Option(r.getString(0)))
        assert(day0.toSeq == Seq(if (compat.nullSasEpochZero) None else Some("1960-01-01")))
      }
    }

  test("declared CSV schemas equal what inferSchema gives, and read the same rows") {
    Seq(("us-cities-demographics.csv", CapstonePipeline.DemographicsSchema, ";"),
        ("I94CIT_I94RES.csv", CapstonePipeline.CountrySchema, ",")).foreach {
      case (leaf, schema, sep) =>
        val inferred = spark.read
          .options(Map("sep" -> sep, "header" -> "true", "inferSchema" -> "true"))
          .csv(input(leaf))
        val declared = CapstonePipeline.readCsv(spark, input(leaf), schema, sep)
        assert(inferred.schema == schema, leaf)
        def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
        assert(rows(declared) == rows(inferred), leaf)
    }
  }

  test("duplicateAdmnumCount equals count() - dropDuplicates(admnum).count()") {
    def oldForm(path: String): Long = {
      val raw = spark.read.parquet(path)
      raw.count() - raw.dropDuplicates("admnum").count()
    }
    val nul = lit(null).cast(DoubleType)
    // 3 nulls, 2 NaN, 0.0 twice and -0.0 once, 7.0 three times, 8.0:
    // groups null, NaN, 0.0, 7.0, 8.0 hold 12 rows, so 7 duplicates
    val edgeKeys = Seq(nul, lit(Double.NaN), lit(7.0), lit(0.0), nul, lit(-0.0),
      lit(7.0), lit(Double.NaN), lit(8.0), lit(0.0), nul, lit(7.0))
    def written(df: DataFrame): String = {
      val path = Files.createTempDirectory("graft_admnum").resolve("sas_data").toString
      df.write.parquet(path)
      path
    }
    val edges = written(spark.range(0, edgeKeys.size, 1, 3).select(
      id.cast(DoubleType).as("cicid"), pick(edgeKeys: _*)(id.cast(IntegerType)).as("admnum")))
    // the sign of -0.0 survives the write, so grouping has to normalize it
    assert(spark.read.parquet(edges).filter(col("admnum").cast(StringType) === "-0.0").count() == 1)
    Seq(
      ("planted fact", input("sas_data"), plantedDuplicates),
      ("nulls, NaN, ±0.0, repeats", edges, 7L),
      ("empty", written(spark.range(0).select(id.cast(DoubleType).as("cicid"),
        id.cast(DoubleType).as("admnum"))), 0L)
    ).foreach { case (name, path, want) =>
      val got = CapstonePipeline.duplicateAdmnumCount(spark, path)
      assert(got == oldForm(path), name)
      assert(got == want, name)
    }
  }

  test("every write job carries the caller's job group, over two runs") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(e.jobId -> e.properties.getProperty("spark.jobGroup.id"))
    }
    /** A one-task job in `group`; once the listener has seen it, it has
      * seen every job started before it (the bus delivers in order). */
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!groups.asScala.exists(_._2 == group) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.asScala.exists(_._2 == group), s"listener never saw $group")
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      Seq("capstone-run-1", "capstone-run-2").zipWithIndex.foreach { case (group, i) =>
        val out = Files.createTempDirectory("graft_capstone_props").toString
        sc.setJobGroup(group, group)
        CapstonePipeline.run(spark, dataRoot.toString, out)
        marker(s"after-$i")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val byId = groups.asScala.toSeq.sortBy(_._1)
    def between(from: String, to: String): Seq[String] = {
      val lo = byId.find(_._2 == from).get._1
      val hi = byId.find(_._2 == to).get._1
      byId.collect { case (j, g) if j > lo && j < hi => g }
    }
    Seq(("start", "after-0", "capstone-run-1"), ("after-0", "after-1", "capstone-run-2"))
      .foreach { case (from, to, group) =>
        val seen = between(from, to)
        assert(seen.size >= 6, s"$group started only ${seen.size} jobs")
        assert(seen.forall(_ == group), s"$group jobs carried ${seen.distinct}")
      }
  }

  test("a failing step fails run only after the other five writes finish") {
    // the demographics input is a directory holding one corrupt gzip
    // file, so that step's Spark job fails while the others run
    val in = writeInputs(Files.createTempDirectory("graft_capstone_bad"))
    val demo = in.resolve("us-cities-demographics.csv")
    Files.delete(demo)
    Files.write(Files.createDirectory(demo).resolve("part-0.csv.gz"), "not gzip".getBytes(UTF_8))
    val out = Files.createTempDirectory("graft_capstone_fail")
    val err = intercept[Throwable](CapstonePipeline.run(spark, in.toString, out.toString))
    def finished(t: String) = Files.exists(out.resolve(s"$t.parquet").resolve("_SUCCESS"))
    val unfinished = Seq("i94mode", "i94visa", "immigration", "country", "i94date")
      .filterNot(finished)
    assert(unfinished.isEmpty, s"run threw ($err) before these writes finished: $unfinished")
    assert(!finished("us_cities_demographics"))
  }
}
