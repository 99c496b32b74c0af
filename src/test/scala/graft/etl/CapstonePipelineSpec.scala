package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftTestBase
import graft.etl.CapstonePipeline.StagedTables
import graft.quality.Checks

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

  private val modes = Seq("fixed" -> CompatConfig.fixed, "referenceCompat" -> CompatConfig.referenceCompat)

  /** One pipeline run per mode, staged once and read by every test. */
  private val stagedRoots = TrieMap.empty[String, String]
  private def stagedPlanted(mode: String, compat: CompatConfig): StagedTables =
    CapstonePipeline.readData(spark, stagedRoots.getOrElseUpdate(mode, {
      val out = Files.createTempDirectory(s"graft_capstone_$mode").toString
      CapstonePipeline.run(spark, dataRoot.toString, out, None, compat)
      out
    }))

  modes
    .foreach { case (mode, compat) =>
      test(s"run → readData → qualityReport → exampleQuery on planted inputs ($mode)") {
        val staged = stagedPlanted(mode, compat)

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

  // ------------------------------------------- quality report, star form

  /** The oracle of the differential test below: the same report
    * composed from `rowCounts` ∪ `fkIntegrity`, sorted by check. */
  private def composedReport(t: StagedTables): DataFrame = {
    val counts = Checks.rowCounts(t.all)
      .select(concat(lit("rows:"), col("table_name")).as("check"),
              col("n_rows").as("value"))
    val fks = Checks.fkIntegrity(Seq(
      Checks.FkEdge("immigration.i94res->country.Code", t.immigration, "i94res", t.country, "Code"),
      Checks.FkEdge("immigration.i94addr->demographics.State Code", t.immigration, "i94addr", t.demographics, "State Code"),
      Checks.FkEdge("immigration.i94visa->i94visa.vid", t.immigration, "i94visa", t.visa, "vid"),
      Checks.FkEdge("immigration.i94mode->i94mode.i94mode", t.immigration, "i94mode", t.transMode, "i94mode"),
      Checks.FkEdge("immigration.arrdate->i94date.arrival_sasdate", t.immigration, "arrdate", t.calendar, "arrival_sasdate")))
      .select(concat(lit("orphans:"), col("fk_edge")).as("check"),
              col("orphan_keys").as("value"))
    counts.union(fks).orderBy(col("check"))
  }

  private type FactRow = (Option[Int], Option[String], Option[Double], Option[Int], Option[Double])

  /** A star with the staged key types: int country codes, string state
    * codes, a double visa FK against an int visa key, int modes, double
    * SAS days on both sides. Each table is one local DataFrame. */
  private def star(fact: Seq[FactRow], codes: Seq[Option[Int]], states: Seq[Option[String]],
                   vids: Seq[Option[Int]], transModes: Seq[Option[Int]], days: Seq[Option[Double]])
      : StagedTables = {
    val sp = spark
    import sp.implicits._
    StagedTables(
      immigration = fact.toDF("i94res", "i94addr", "i94visa", "i94mode", "arrdate"),
      visa = vids.toDF("vid"), transMode = transModes.toDF("i94mode"),
      demographics = states.toDF("State Code"), country = codes.toDF("Code"),
      calendar = days.toDF("arrival_sasdate"))
  }

  private val NaN = Double.NaN
  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
  private def fk(res: Option[Int] = Some(1), addr: Option[String] = Some("CA"),
                 visa: Option[Double] = Some(1.0), mode: Option[Int] = Some(1),
                 day: Option[Double] = Some(20545.0)): FactRow = (res, addr, visa, mode, day)
  private def some[A](xs: A*): Seq[Option[A]] = xs.map(Some(_))
  private val codes = some(1, 2, 3); private val states = some("CA", "NY")
  private val vids = some(1, 2, 3); private val modeKeys = some(1, 2, 3, 9)
  private val days = some(20545.0, 20546.0)
  /** Past the optimizer's threshold (10), an IN list becomes an InSet. */
  private val manyDays = some((1 to 12).map(_ + 30000.0): _*)

  private def orphans(rows: Seq[(String, Long)]): Seq[Long] =
    rows.collect { case (c, v) if c.startsWith("orphans:") => v }

  test("qualityReport equals the rowCounts ∪ fkIntegrity composition on edge cases and planted inputs") {
    val emptyFact = star(Nil, codes, states, vids, modeKeys, days)
    val emptyDims = star(Seq(fk(), fk(Some(4), Some("QA"), Some(NaN), Some(5), Some(-0.0)),
      fk(None, None, None, None, None), fk(day = Some(0.0))), Nil, Nil, Nil, Nil, Nil)
    val cases = Seq(
      "null FKs" -> star(Seq(fk(None, None, None, None, None), fk(),
        fk(Some(7), Some("QA"), Some(4.0), Some(5), Some(1.0)),
        fk(Some(7), Some("QA"), Some(4.0), Some(5), Some(1.0)),
        fk(None, Some("QB"), None, Some(6), None)), codes, states, vids, modeKeys, days),
      "NaN and ±0.0 FKs" -> star(Seq(fk(visa = Some(-0.0), day = Some(-0.0)),
        fk(visa = Some(0.0), day = Some(0.0)), fk(visa = Some(NaN), day = Some(NaN)),
        fk(visa = Some(otherNaN), day = Some(otherNaN)), fk()),
        codes, states, vids, modeKeys, some(0.0, 20545.0) ++ manyDays),
      "NaN and ±0.0 PKs" -> star(Seq(fk(visa = Some(0.0), day = Some(0.0)),
        fk(visa = Some(-0.0), day = Some(-0.0)), fk(day = Some(NaN)), fk(day = Some(otherNaN)),
        fk(day = Some(1.0))), codes, states, some(0, 1), modeKeys,
        some(-0.0, NaN, otherNaN) ++ manyDays),
      "double FK against int PK" -> star(Seq(fk(visa = Some(1.0)), fk(visa = Some(2.5)),
        fk(visa = Some(3.0)), fk(visa = Some(4.0)), fk(visa = Some(-1.0))),
        codes, states, vids, modeKeys, days),
      "duplicate and null PKs" -> star(Seq(fk(), fk(Some(2), Some("NY"), Some(2.0), Some(9)),
        fk(Some(3), Some("TX"), Some(3.0), Some(3), Some(20546.0))),
        Seq(Some(1), Some(1), None, Some(2), None), Seq(Some("CA"), Some("CA"), None),
        Seq(Some(1), Some(1), Some(2), None), Seq(None, Some(1), Some(9), Some(9)),
        Seq(Some(20545.0), Some(20545.0), None)),
      "empty dims" -> emptyDims,
      "empty fact" -> emptyFact
    ) ++ modes.map { case (mode, compat) => s"planted inputs ($mode)" -> stagedPlanted(mode, compat) }

    def rows(df: DataFrame): Seq[(String, Long)] =
      df.collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
    val reports = cases.map { case (name, t) =>
      val got = CapstonePipeline.qualityReport(spark, t)
      val want = composedReport(t)
      assert(got.schema == want.schema, name)
      assert(rows(got) == rows(want), name)
      name -> rows(got)
    }.toMap

    // every key but null and NaN is an orphan: 2 days (20545.0 and ±0.0),
    // 2 states, 2 modes, 2 codes, 1 visa (1.0)
    assert(orphans(reports("empty dims")) == Seq(2L, 2L, 2L, 2L, 1L))
    assert(reports("empty fact").collect { case ("rows:immigration", n) => n } == Seq(0L))
    assert(orphans(reports("empty fact")) == Seq(0L, 0L, 0L, 0L, 0L))
    // NaN FKs are not orphans (fkIntegrity's na.drop); ±0.0 is one key
    assert(orphans(reports("NaN and ±0.0 FKs")) == Seq(0L, 0L, 0L, 0L, 1L))
    assert(orphans(reports("NaN and ±0.0 PKs")) == Seq(1L, 0L, 0L, 0L, 0L))
  }

  /** `body`'s result, the jobs it started and the records their tasks
    * read. `body` runs in a job group of its own, which the threads it
    * creates inherit. A one-task job in another group follows; once the
    * listener has seen it, it has seen every job and task started before
    * it (the bus delivers in order). */
  private def traced[A](body: => A): (A, Seq[SparkListenerJobStart], Long) = {
    val sc = spark.sparkContext
    val group = s"traced-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val reads = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) reads.add(e.stageId -> e.taskMetrics.inputMetrics.recordsRead)
    }
    def inGroup[B](g: String)(b: => B): B = {
      sc.setJobGroup(g, g)
      try b finally sc.clearJobGroup()
    }
    def groupOf(j: SparkListenerJobStart) = j.properties.getProperty("spark.jobGroup.id")
    sc.addSparkListener(listener)
    try {
      val result = inGroup(group)(body)
      inGroup(s"$group-drained")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!jobs.asScala.exists(groupOf(_) == s"$group-drained") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.exists(groupOf(_) == s"$group-drained"), "listener never saw the drain job")
      val mine = jobs.asScala.toSeq.filter(groupOf(_) == group)
      val stages = mine.flatMap(_.stageIds).toSet
      (result, mine, reads.asScala.collect { case (st, n) if stages(st) => n }.sum)
    } finally sc.removeSparkListener(listener)
  }

  test("qualityReport launches at most 3 jobs, reads each staged table once, and its collect launches none") {
    val staged = stagedPlanted("fixed", CompatConfig.fixed)
    val (df, callJobs, callRead) = traced(CapstonePipeline.qualityReport(spark, staged))
    val (rows, collectJobs, collectRead) = traced(df.collect())
    val report = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // one job for the five dims' keys, two for the fact aggregate (AQE
    // runs its map stage as a job of its own)
    assert(callJobs.size + collectJobs.size <= 3,
      s"${callJobs.size} + ${collectJobs.size} jobs (qualityReport + collect)")
    assert(collectJobs.size == 0, "collecting the report launched jobs")
    val tableRows = report.collect { case (c, n) if c.startsWith("rows:") => n }.sum
    assert(tableRows == factRows + 3 + 4 + 4 + 10 + 31)
    assert(callRead + collectRead == tableRows,
      s"read ${callRead + collectRead} records for $tableRows staged rows")
  }

  // ------------------------------------------------ footer-read schemas

  /** Spark's Parquet schema inference: a one-stage
    * `parallelize(...).mapPartitions(...)` job, every RDD of which the
    * read call itself created. */
  private def isFooterJob(j: SparkListenerJobStart): Boolean = {
    val rdds = j.stageInfos.flatMap(_.rddInfos)
    rdds.nonEmpty && rdds.forall(r =>
      Set("ParallelCollectionRDD", "MapPartitionsRDD")(r.name) && r.callSite.startsWith("parquet at"))
  }

  test("readData launches no job; duplicateAdmnumCount and run launch no footer job") {
    // the footer job is what a plain read launches
    val (_, plain, _) = traced(spark.read.parquet(input("sas_data")))
    assert((plain.size, plain.count(isFooterJob)) == (1, 1))

    val out = Files.createTempDirectory("graft_capstone_jobs").toString
    val (_, dupJobs, _) = traced(CapstonePipeline.duplicateAdmnumCount(spark, input("sas_data")))
    val (_, runJobs, _) = traced(CapstonePipeline.run(spark, dataRoot.toString, out))
    val (_, readJobs, _) = traced(CapstonePipeline.readData(spark, out))
    assert(dupJobs.size >= 1 && dupJobs.count(isFooterJob) == 0)
    assert(runJobs.size >= 6 && runJobs.count(isFooterJob) == 0)
    assert(readJobs.size == 0)
  }

  test("readParquet gives the schema and rows of Spark's inference, and its errors") {
    def dir(prefix: String): Path = Files.createTempDirectory(prefix)
    val partitioned = dir("graft_capstone_partitioned").toString
    CapstonePipeline.run(spark, dataRoot.toString, partitioned, partitionFactByMonth = true)
    // inference reads one footer: a summary file if there is one, else the
    // first part file by path. Both layouts below hold a part file of
    // another schema that sorts before every other file, summaries too
    // ("P=0/" before "_common_metadata").
    val narrowDir = dir("graft_parquet_narrow").resolve("t")
    spark.range(1).select(id.as("a")).coalesce(1).write.parquet(narrowDir.toString)
    val narrow = Files.list(narrowDir).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    def wide = spark.range(4).select(id.as("a"), id.cast(StringType).as("b"), (id % 2).as("P"))
    val mixed = dir("graft_parquet_mixed").resolve("t")
    wide.write.parquet(mixed.toString)
    Files.copy(narrow, mixed.resolve("part-0.parquet"))
    val summarized = dir("graft_parquet_summary").resolve("t")
    wide.write.partitionBy("P").option("parquet.summary.metadata.level", "ALL")
      .parquet(summarized.toString)
    assert(Files.exists(summarized.resolve("_common_metadata")))
    Files.copy(narrow, summarized.resolve("P=0").resolve("part-0.parquet"))
    assert(spark.read.parquet(mixed.toString).columns.toSeq == Seq("a"))
    assert(spark.read.parquet(summarized.toString).columns.toSeq == Seq("a", "b", "P"))
    val staged = modes.flatMap { case (mode, compat) =>
      stagedPlanted(mode, compat)
      Files.list(Path.of(stagedRoots(mode))).iterator.asScala.map(_.toString).toSeq.sorted
    }
    val names = Files.list(Path.of(staged.head)).iterator.asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"no _SUCCESS or .crc file among $names")

    val paths = Seq(input("sas_data"), s"$partitioned/immigration.parquet", mixed.toString,
      summarized.toString) ++ staged
    assert(paths.size == 4 + 2 * 6)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    paths.foreach { p =>
      val (declared, jobs, _) = traced(CapstonePipeline.readParquet(spark, p))
      val inferred = spark.read.parquet(p)
      assert(jobs.size == 0, p)
      assert(declared.schema == inferred.schema, p)
      assert(rows(declared) == rows(inferred), p)
    }
    assert(CapstonePipeline.readParquet(spark, s"$partitioned/immigration.parquet")
      .columns.takeRight(2).toSeq == Seq("i94yr", "i94mon"))

    Seq(dir("graft_parquet_missing").resolve("absent").toString -> "PATH_NOT_FOUND",
        dir("graft_parquet_empty").toString -> "UNABLE_TO_INFER_SCHEMA").foreach { case (p, condition) =>
      val errors = Seq(intercept[AnalysisException](CapstonePipeline.readParquet(spark, p)),
                       intercept[AnalysisException](spark.read.parquet(p)))
      assert(errors.map(_.getCondition) == Seq(condition, condition), p)
    }
  }
}
