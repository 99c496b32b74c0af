package graft.etl

import java.nio.file.Paths
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Casts, SasDate}
import graft.quality.Checks

/** The reference's I94-immigration star-schema pipeline (etl.py),
  * re-expressed Spark-first in Scala.
  *
  * Same WHAT — one fact + five dims staged as Parquet (SURVEY.md §1.1) —
  * different HOW:
  *   - the SAS-date Python UDF (etl.py:255) becomes codegen'd built-ins
  *     (graft.functions.SasDate): no JVM↔Python row shuttling, pushdown
  *     survives;
  *   - `first()` collapses become min() so per-group survivors are
  *     deterministic (SURVEY.md §7.4 — the reference relies on per-city
  *     values repeating across race rows, which min() preserves);
  *   - output paths join properly (the reference concatenated Windows
  *     backslashes and a malformed s3a root, etl.py:180,301 — SURVEY.md
  *     §2.2);
  *   - behavioral quirks B1/B2/B3/B5 default to fixed semantics with
  *     [[CompatConfig]] toggles for bit-compat golden testing;
  *   - the fact table write supports partitionBy(i94yr, i94mon) — the
  *     natural layout at scale (the reference author proposes month
  *     partitioning in NB:1471 but never implements it).
  */
object CapstonePipeline {

  private def join(root: String, leaf: String): String =
    Paths.get(root, leaf).toString

  // ------------------------------------------------------------- dims

  /** Transportation-mode dim (etl.py:34-57): in-memory relation S6. */
  def transModeDim(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("i94mode", IntegerType), StructField("trans_mode", StringType)))
    val rows = Seq(Row(1, "Air"), Row(2, "Sea"), Row(3, "Land"), Row(9, "Not reported"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Visa dim (etl.py:69-89). */
  def visaDim(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("vid", IntegerType), StructField("visatype", StringType)))
    val rows = Seq(Row(1, "Business"), Row(2, "Pleasure"), Row(3, "Student"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Declared schema of the demographics CSV (FIXTURES.md §A2): the
    * types `inferSchema` gives the reference file, without the extra
    * inference pass over it. */
  val DemographicsSchema: StructType = StructType(Seq(
    StructField("City", StringType), StructField("State", StringType),
    StructField("Median Age", DoubleType),
    StructField("Male Population", IntegerType), StructField("Female Population", IntegerType),
    StructField("Total Population", IntegerType), StructField("Number of Veterans", IntegerType),
    StructField("Foreign-born", IntegerType), StructField("Average Household Size", DoubleType),
    StructField("State Code", StringType), StructField("Race", StringType),
    StructField("Count", IntegerType)))

  /** Declared schema of the country-code CSV (FIXTURES.md §A3). */
  val CountrySchema: StructType = StructType(Seq(
    StructField("Code", IntegerType), StructField("I94CTRY", StringType)))

  /** Header CSV read with a declared schema. PERMISSIVE: a field that
    * does not parse as its declared type reads as null. */
  private[etl] def readCsv(spark: SparkSession, path: String, schema: StructType,
                           sep: String): DataFrame =
    spark.read.schema(schema)
      .options(Map("sep" -> sep, "header" -> "true", "mode" -> "PERMISSIVE"))
      .csv(path)

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a Parquet schema by reading footers in a one-stage job, even
    * for a single file. This reads, on the driver, the one footer that
    * Spark's non-merging inference reads: a `_common_metadata`, else a
    * `_metadata`, else the first data file by path, where hidden names
    * (`_`/`.` prefixes, as `_SUCCESS` and `.crc` files) are skipped and
    * partition directories are descended. The footer is read and
    * converted as inference does it: `readSchemaFromFooter` keeps Spark's
    * own row schema from the footer when present, and the converter
    * applies the session's Parquet confs. Partition discovery
    * still appends the partition columns. With no file to read (missing
    * path, glob, empty directory) this is the plain read, so Spark's
    * errors stay as they are. */
  private[etl] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val summaries = Seq("_common_metadata", "_metadata")
    def visible(name: String): Boolean = summaries.contains(name) ||
      !(name.startsWith(".") || name.startsWith("_") && !name.contains("="))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(c => visible(c.getPath.getName)).flatMap(leaves)
    val files = if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Nil
    files.minByOption { f =>
      val name = f.getPath.getName
      (!summaries.contains(name), summaries.indexOf(name), f.getPath.toString)
    } match {
      case Some(file) =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** US-demographics dim (etl.py:102-131): `;`-separated CSV (S2), read
    * with [[DemographicsSchema]] (the reference's casts, P4, happen at
    * read time) → per-city collapse (A1). min() instead of first():
    * per-city values repeat across the (city, race) grain, so this is
    * value-identical but deterministic. */
  def demographicsDim(spark: SparkSession, csvPath: String): DataFrame =
    readCsv(spark, csvPath, DemographicsSchema, ";")
      .groupBy(col("City"), col("State"), col("State Code"))
      .agg(
        min(col("Median Age")).as("median_age"),
        min(col("Male Population")).as("male_population"),
        min(col("Female Population")).as("female_population"),
        min(col("Total Population")).as("total_population"))

  /** Immigration fact (etl.py:143-181): parquet scan ([[readParquet]])
    * → column drops → null-fill of i94mode → int casts. The reference's
    * dead dedup (B1, etl.py:158) is kept as a CHECK —
    * [[duplicateAdmnumCount]] — not a silent drop. */
  def immigrationFact(spark: SparkSession, parquetPath: String,
                      compat: CompatConfig = CompatConfig.fixed): DataFrame = {
    val raw = readParquet(spark, parquetPath)
    val highNull  = Seq("visapost", "occup", "entdepu", "insnum", "fltno")
    val unneeded  = Seq("count", "entdepa", "entdepd", "matflag", "dtaddto", "biryear", "admnum")
    val fillValue = if (compat.fillI94ModeWithZero) 0 else 9
    val cleaned = raw
      .drop(highNull: _*)
      .drop(unneeded: _*)
      .na.fill(fillValue, Seq("i94mode"))
    Casts.castTo(cleaned, Seq("i94mode", "i94res"), IntegerType)
  }

  /** The reference's discarded dedup check (B1), made explicit:
    * how many rows share an admission number with an earlier row. One
    * action; the same as `count() - dropDuplicates("admnum").count()`,
    * since grouping also puts nulls in one group and normalizes NaN and
    * -0.0. */
  def duplicateAdmnumCount(spark: SparkSession, parquetPath: String): Long =
    readParquet(spark, parquetPath)
      .groupBy("admnum").count()
      .agg(coalesce(sum(col("count") - 1), lit(0L)))
      .head().getLong(0)

  /** Country dim (etl.py:194-230): country-code lookup CSV (S4)
    * left-joined (J1) to per-country average temperature (A2).
    *
    * The temperature CSV is optional — the reference reads it from a
    * path outside the repo snapshot; with None the dim carries null
    * temperature columns, which is exactly what the committed output
    * contains (the case-mismatch B3 made the join vacuous). In compat
    * mode the mismatch is reproduced (upper vs lower ⇒ zero matches);
    * fixed mode normalizes BOTH sides with upper(trim(...)). */
  def countryDim(spark: SparkSession, ctryCsvPath: String,
                 temperatureCsvPath: Option[String],
                 compat: CompatConfig = CompatConfig.fixed): DataFrame = {
    val ctry = readCsv(spark, ctryCsvPath, CountrySchema, ",")
      .withColumn("I94CTRY",
        if (compat.caseMismatchedCountryJoin) lower(col("I94CTRY"))
        else upper(trim(col("I94CTRY"))))

    val temp = temperatureCsvPath match {
      case Some(path) =>
        // Header-only read: every column is a string; the avg() coerces
        // (the reference relies on the same implicit coercion, A2).
        spark.read.option("header", "true").csv(path)
          .groupBy(col("Country"))
          .agg(avg(col("AverageTemperature").cast("double")).as("AverageTemperature"),
               min(col("Latitude")).as("Latitude"),
               min(col("Longitude")).as("Longitude"))
          .withColumn("Country",
            if (compat.caseMismatchedCountryJoin) upper(col("Country"))
            else upper(trim(col("Country"))))
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("Country", StringType),
            StructField("AverageTemperature", DoubleType),
            StructField("Latitude", StringType),
            StructField("Longitude", StringType))))
    }

    ctry.join(temp, ctry("I94CTRY") === temp("Country"), "left").drop("Country")
  }

  /** Calendar dim (etl.py:243-266): distinct arrival dates → ISO string
    * (U1 via built-ins) + date parts (C2). */
  def calendarDim(immigration: DataFrame,
                  compat: CompatConfig = CompatConfig.fixed): DataFrame = {
    val iso = SasDate.toIsoString(col("arrival_sasdate"),
                                  nullOnZero = compat.nullSasEpochZero)
    immigration
      .select(col("arrdate").as("arrival_sasdate"))
      .dropDuplicates()
      .withColumn("arrival_date", iso)
      .withColumn("arrival_month", month(col("arrival_date")))
      .withColumn("arrival_year", year(col("arrival_date")))
      .withColumn("arrival_day", dayofmonth(col("arrival_date")))
      .withColumn("day_of_week", dayofweek(col("arrival_date")))
      .withColumn("arrival_weekofyear", weekofyear(col("arrival_date")))
  }

  // --------------------------------------------------------- pipeline

  final case class StagedTables(
      immigration: DataFrame, visa: DataFrame, transMode: DataFrame,
      demographics: DataFrame, country: DataFrame, calendar: DataFrame) {
    def all: Seq[(String, DataFrame)] = Seq(
      "immigration" -> immigration, "i94visa" -> visa, "i94mode" -> transMode,
      "us_cities_demographics" -> demographics, "country" -> country,
      "i94date" -> calendar)
  }

  /** run_pipeline (etl.py:281-314): build all six tables and stage them
    * as Parquet. Tiny dims coalesce to one file (the reference's 200
    * shuffle partitions wrote 4-row dims as multi-part output); the fact
    * can partition by (i94yr, i94mon) for scale-out pruning.
    *
    * The six writes run CONCURRENTLY, each on its own thread of a pool
    * that lives for this call only. The step dependency analysis in
    * SURVEY.md §3.1 shows only calendar depends on another step's plan
    * (and lazily, through lineage), so the scheduler interleaves the
    * small dim jobs with the big fact write instead of idling the
    * cluster between them. The pool's threads are created here, so they
    * inherit the caller's Spark local properties (job group, scheduler
    * pool); a shared pool's reused threads would carry stale ones. Every
    * write finishes before `run` returns or throws; the first failing
    * step's exception is rethrown, with the others suppressed in it. */
  def run(spark: SparkSession, dataRoot: String, outputRoot: String,
          temperatureCsvPath: Option[String] = None,
          compat: CompatConfig = CompatConfig.fixed,
          partitionFactByMonth: Boolean = false): StagedTables = {
    val transMode = transModeDim(spark)
    val visa      = visaDim(spark)
    val demo      = demographicsDim(spark, join(dataRoot, "us-cities-demographics.csv"))
    val fact      = immigrationFact(spark, join(dataRoot, "sas_data"), compat)
    val country   = countryDim(spark, join(dataRoot, "I94CIT_I94RES.csv"),
                               temperatureCsvPath, compat)
    // The reference hands calendarDim the PRE-write plan (etl.py:312) so
    // its lineage recomputes the fact cleaning; identical here.
    val calendar  = calendarDim(fact, compat)

    def write(df: DataFrame, leaf: String, one: Boolean): Unit = {
      val coalesced = if (one) df.coalesce(1) else df
      coalesced.write.mode(SaveMode.Overwrite).parquet(join(outputRoot, leaf))
    }
    def writeFact(): Unit =
      if (partitionFactByMonth)
        fact.write.mode(SaveMode.Overwrite).partitionBy("i94yr", "i94mon")
          .parquet(join(outputRoot, "immigration.parquet"))
      else write(fact, "immigration.parquet", one = false)

    val steps: Seq[() => Unit] = Seq(
      () => write(transMode, "i94mode.parquet", one = true),
      () => write(visa, "i94visa.parquet", one = true),
      () => write(demo, "us_cities_demographics.parquet", one = true),
      () => writeFact(),
      () => write(country, "country.parquet", one = true),
      () => write(calendar, "i94date.parquet", one = true))

    val pool = Executors.newFixedThreadPool(steps.size)
    try {
      val pending = steps.map(step => pool.submit(new Callable[Unit] { def call(): Unit = step() }))
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()

    StagedTables(fact, visa, transMode, demo, country, calendar)
  }

  /** read_data (etl.py:316-334): reopen the six staged tables. Each
    * schema comes from one footer read on the driver ([[readParquet]]),
    * so this launches no Spark job. */
  def readData(spark: SparkSession, root: String): StagedTables = {
    def r(leaf: String) = readParquet(spark, join(root, leaf))
    StagedTables(
      immigration = r("immigration.parquet"),
      visa = r("i94visa.parquet"),
      transMode = r("i94mode.parquet"),
      demographics = r("us_cities_demographics.parquet"),
      country = r("country.parquet"),
      calendar = r("i94date.parquet"))
  }

  /** The notebook's quality gate (NB cells 42-43) with fixed semantics:
    * row counts + FK orphan counts per star edge, as `(check, value)`
    * rows sorted by `check`. `Checks.starIntegrity` reads all five dims'
    * key columns in one job and the fact in a single aggregate, so this
    * runs its jobs when called and returns a local frame; collecting it
    * launches none.
    * Driver memory: the five dims' key columns plus each edge's orphan
    * keys. */
  def qualityReport(spark: SparkSession, t: StagedTables): DataFrame =
    Checks.starIntegrity("immigration", t.immigration, Seq(
      Checks.StarEdge("immigration.i94res->country.Code", "i94res", "country", t.country, "Code"),
      Checks.StarEdge("immigration.i94addr->demographics.State Code", "i94addr",
        "us_cities_demographics", t.demographics, "State Code"),
      Checks.StarEdge("immigration.i94visa->i94visa.vid", "i94visa", "i94visa", t.visa, "vid"),
      Checks.StarEdge("immigration.i94mode->i94mode.i94mode", "i94mode", "i94mode", t.transMode, "i94mode"),
      Checks.StarEdge("immigration.arrdate->i94date.arrival_sasdate", "arrdate", "i94date",
        t.calendar, "arrival_sasdate")))

  /** The notebook's example analytical query (NB:803-807, cell 30):
    * immigrants + max temperature per residence country. */
  def exampleQuery(t: StagedTables): DataFrame =
    t.immigration.join(t.country, t.immigration("i94res") === t.country("Code"))
      .groupBy(col("I94CTRY"))
      .agg(max(col("AverageTemperature")).as("max_temperature"),
           count(lit(1)).as("n_immigrants"))
      .orderBy(col("n_immigrants").desc, col("I94CTRY"))
}
