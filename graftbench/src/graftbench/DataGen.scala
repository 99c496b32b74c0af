package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic input generators.
  *
  * Large tables are built from `spark.range` with every value derived from
  * `xxhash64(id, salt, seed)`, so the content depends only on the seed and
  * never on partitioning or core count. Small tables are built row by row
  * from a `SplittableRandom`.
  */
object DataGen {

  // ------------------------------------------------------------ helpers

  private def h(salt: String, seed: Long): Column =
    xxhash64(col("id"), lit(salt), lit(seed))

  /** Uniform integer in [0, n). */
  private def uint(salt: String, seed: Long, n: Long): Column =
    pmod(h(salt, seed), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(salt: String, seed: Long): Column =
    shiftrightunsigned(h(salt, seed), 11).cast(DoubleType) / lit(9007199254740992.0)

  private def pick(values: Seq[String], salt: String, seed: Long): Column =
    element_at(array(values.map(lit): _*), (uint(salt, seed, values.size.toLong) + 1).cast(IntegerType))

  private def write(df: DataFrame, path: Path): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path.toString)

  private def writeSmall(spark: SparkSession, rows: Seq[Row], schema: StructType, path: Path): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(SaveMode.Overwrite).parquet(path.toString)

  // ------------------------------------------------------- query tables

  /** Row counts of the query tables at scale factor `sf`, shaped like the
    * engine's synthetic TPC-H-style tables (TESTDATA.md / FIXTURES.md §B). */
  def queryRowCounts(sf: Double): Seq[(String, Long)] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Seq(
      "region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000), "supplier" -> n(10000), "part" -> n(200000),
      "orders" -> n(1500000), "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> n(50000), "embeddings" -> n(20000))
  }

  private val words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Writes the ten query tables under `dir`. */
  def queryTables(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    val counts = queryRowCounts(sf).toMap
    def out(t: String) = dir.resolve(s"$t.parquet")
    def range(t: String, files: Int) = spark.range(0, counts(t), 1, files)
    def days(start: String, salt: String, span: Long): Column =
      date_add(lit(start).cast(DateType), uint(salt, seed, span).cast(IntegerType))
        .cast(TimestampNTZType)

    writeSmall(spark,
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) },
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      out("region"))
    writeSmall(spark, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      out("nation"))

    val nCust = counts("customer"); val nSupp = counts("supplier")
    val nPart = counts("part"); val nOrd = counts("orders")
    write(range("customer", 1).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uint("c_nation", seed, 25).cast(IntegerType).as("c_nationkey"),
      round(lit(-999.99) + unit("c_bal", seed) * 10999.98, 2).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), "c_seg", seed)
        .as("c_mktsegment")), out("customer"))
    write(range("supplier", 1).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uint("s_nation", seed, 25).cast(IntegerType).as("s_nationkey"),
      round(lit(-999.99) + unit("s_bal", seed) * 10999.98, 2).as("s_acctbal")), out("supplier"))
    write(range("part", 1).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick(Seq("blue", "cold", "hot", "red", "small", "new", "old", "large"), "p_adj", seed),
        pick(Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "spring"), "p_noun", seed))
        .as("p_name"),
      concat(lit("Brand#"), (uint("p_brand", seed, 25) + 1).cast(StringType)).as("p_brand"),
      pick(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), "p_type", seed).as("p_type"),
      (uint("p_size", seed, 50) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)).cast(DoubleType) * 0.1, 1).as("p_retailprice")),
      out("part"))
    write(range("orders", 2).select(
      col("id").as("o_orderkey"),
      uint("o_cust", seed, nCust).as("o_custkey"),
      pick(Seq("O", "P", "F"), "o_status", seed).as("o_orderstatus"),
      round(lit(1000.0) + unit("o_price", seed) * 499000.0, 2).as("o_totalprice"),
      days("1995-01-01", "o_date", 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "o_prio", seed)
        .as("o_orderpriority")), out("orders"))
    val qty = (uint("l_qty", seed, 50) + 1).cast(DoubleType)
    write(range("lineitem", 4).select(
      uint("l_order", seed, nOrd).as("l_orderkey"),
      uint("l_part", seed, nPart).as("l_partkey"),
      uint("l_supp", seed, nSupp).as("l_suppkey"),
      (uint("l_line", seed, 7) + 1).cast(IntegerType).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + unit("l_price", seed) * 1200.0), 2).as("l_extendedprice"),
      (uint("l_disc", seed, 11).cast(DoubleType) / 100.0).as("l_discount"),
      (uint("l_tax", seed, 9).cast(DoubleType) / 100.0).as("l_tax"),
      pick(Seq("N", "A", "R"), "l_rflag", seed).as("l_returnflag"),
      pick(Seq("O", "F"), "l_lstatus", seed).as("l_linestatus"),
      days("1995-01-02", "l_ship", 2498).as("l_shipdate")), out("lineitem"))

    // Events arrive in event_id order over 30 days, with jitter.
    val nEv = counts("events")
    val stepMicros = 30L * 86400L * 1000000L / nEv
    write(range("events", 2).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepMicros +
        uint("e_jit", seed, stepMicros)).cast(TimestampNTZType).as("ts"),
      uint("e_user", seed, math.max(100L, nEv / 66)).as("user_id"),
      pick(Seq("signup", "click", "error", "view", "purchase"), "e_type", seed).as("event_type"),
      round(-log(lit(1.0) - unit("e_val", seed)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", uint("e_props", seed, 100)).as("props")), out("events"))

    // Documents: random word sequences; 5% are near-duplicates (an
    // earlier document's text plus the marker word "dup").
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val nDoc = counts("documents").toInt
    val langs = Seq("en", "en", "en", "es", "zh", "de", "fr")
    val texts = new Array[String](nDoc)
    val docs = (0 until nDoc).map { i =>
      val text =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.size))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    writeSmall(spark, docs, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), out("documents"))

    // Embeddings: 64-dim unit-norm Gaussian vectors with a random label.
    val emb = (0 until counts("embeddings").toInt).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    writeSmall(spark, emb, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))), out("embeddings"))
  }

  // ------------------------------------------------- capstone inputs

  /** What the capstone generator planted; the quality report must match. */
  final case class Planted(
      factRows: Long, duplicateAdmnum: Long, cities: Int, countries: Int, arrivalDays: Int,
      orphans: Map[String, Long], orphanResRows: Long) {

    /** The quality report `CapstonePipeline.qualityReport` must produce. */
    def qualityReport: Map[String, Long] = Map(
      "rows:immigration" -> factRows,
      "rows:i94visa" -> 3L,
      "rows:i94mode" -> 4L,
      "rows:us_cities_demographics" -> cities.toLong,
      "rows:country" -> countries.toLong,
      "rows:i94date" -> arrivalDays.toLong) ++
      orphans.map { case (edge, n) => s"orphans:$edge" -> n }
  }

  private val stateCodes = Seq("AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL",
    "GA", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN",
    "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK", "OR",
    "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA")

  /** Writes the capstone ETL inputs (FIXTURES.md §A1-A3) under `dir`:
    * `sas_data/` (28-column fact, numerics as double), the `;`-delimited
    * demographics CSV with a BOM on `City`, and the 289-row country CSV.
    * Duplicate admission numbers and orphan keys on every FK edge are
    * planted in exact, seed-dependent numbers. */
  def capstone(spark: SparkSession, dir: Path, factRows: Long, seed: Long): Planted = {
    val rnd = new SplittableRandom(seed)

    // Country lookup: 289 distinct codes in [1, 999], no trailing newline.
    val codes = rnd.ints(1, 1000).distinct().limit(289).toArray.sorted.toSeq
    val names = codes.zipWithIndex.map { case (c, i) =>
      if (i % 40 == 7) s"INVALID: STATELESS $c"
      else if (i % 40 == 23) s"No Country Code ($c)"
      else s"COUNTRY ${('A' + i % 26).toChar}${c}"
    }
    Files.createDirectories(dir)
    Files.write(dir.resolve("I94CIT_I94RES.csv"),
      ("Code,I94CTRY\n" + codes.zip(names).map { case (c, n) => s"$c,$n" }.mkString("\n"))
        .getBytes(StandardCharsets.UTF_8))

    // Demographics: (city, race) grain, ~600 cities in 45-49 states.
    val states = stateCodes.filter(_ => rnd.nextInt(12) != 0)
    val cities = 550 + rnd.nextInt(100)
    val races = Seq("White", "Black or African-American", "Hispanic or Latino", "Asian",
      "American Indian and Alaska Native")
    val demo = new StringBuilder("\uFEFFCity;State;Median Age;Male Population;Female Population;" +
      "Total Population;Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count\n")
    for (c <- 0 until cities) {
      val st = states(c % states.size)
      val male = 20000 + rnd.nextInt(400000); val female = 20000 + rnd.nextInt(400000)
      val age = 25.0 + rnd.nextInt(200) / 10.0
      val vets = if (rnd.nextInt(50) == 0) "" else (500 + rnd.nextInt(20000)).toString
      val born = 1000 + rnd.nextInt(100000)
      val hh = 2.0 + rnd.nextInt(150) / 100.0
      for (r <- races.take(1 + rnd.nextInt(races.size)))
        demo ++= s"City $c;State $st;$age;$male;$female;${male + female};$vets;$born;$hh;$st;$r;" +
          s"${100 + rnd.nextInt(50000)}\n"
    }
    Files.write(dir.resolve("us-cities-demographics.csv"), demo.toString.getBytes(StandardCharsets.UTF_8))

    // Planted defects, all seed-dependent.
    val orphanRes = (0 until 3 + rnd.nextInt(6)).map(i => 1000 + 17 * i + rnd.nextInt(17))
    val orphanAddr = (0 until 2 + rnd.nextInt(5)).map(i => s"Q$i")
    val orphanVisa = (0 until 1 + rnd.nextInt(2)).map(i => 4 + i)
    val orphanMode = (0 until 1 + rnd.nextInt(3)).map(i => 4 + i)
    val dups = factRows / 1000 + rnd.nextInt(100)
    val stride = factRows / dups
    require(stride >= 2 && factRows / 977 >= 8, s"fact too small for the planted defects: $factRows")

    def arr[T](xs: Seq[T]): Column = array(xs.map(lit): _*)
    def at(xs: Column, i: Column): Column = element_at(xs, (i + 1).cast(IntegerType))
    /** Rows where id % m == r carry orphan key number (id / m) % k. */
    def orphanRow(m: Long, r: Long): Column = pmod(col("id"), lit(m)) === r
    def orphanIx(m: Long, k: Int): Column = pmod(floor(col("id") / m), lit(k.toLong))
    val id = col("id")
    val arrdate = lit(20545.0) + uint("arrdate", seed, 30).cast(DoubleType)
    val stateOrNull = when(unit("addr_null", seed) < 0.06, lit(null).cast(StringType))
      .otherwise(at(arr(states), uint("addr", seed, states.size.toLong)))
    val isDup = pmod(id, lit(stride)) === 1 && floor(id / stride) < dups
    val strNull = (salt: String, p: Double, v: Column) =>
      when(unit(salt, seed) < p, lit(null).cast(StringType)).otherwise(v)

    val fact = spark.range(0, factRows, 1, 4).select(
      id.cast(DoubleType).as("cicid"),
      lit(2016.0).as("i94yr"),
      lit(4.0).as("i94mon"),
      at(arr(codes), uint("cit", seed, codes.size.toLong)).cast(DoubleType).as("i94cit"),
      when(orphanRow(997, 5), at(arr(orphanRes), orphanIx(997, orphanRes.size)))
        .otherwise(at(arr(codes), uint("res", seed, codes.size.toLong)))
        .cast(DoubleType).as("i94res"),
      pick(Seq("NYC", "MIA", "LOS", "SFR", "CHI", "HOU", "ATL", "NEW", "WAS", "BOS"), "port", seed)
        .as("i94port"),
      arrdate.as("arrdate"),
      when(unit("dep_null", seed) < 0.05, lit(null).cast(DoubleType))
        .otherwise(arrdate + uint("stay", seed, 60).cast(DoubleType)).as("depdate"),
      when(orphanRow(977, 13), at(arr(orphanMode), orphanIx(977, orphanMode.size)).cast(DoubleType))
        .when(unit("mode_null", seed) < 0.001, lit(null).cast(DoubleType))
        .otherwise(at(arr(Seq(1.0, 1.0, 1.0, 1.0, 2.0, 3.0, 9.0)), uint("mode", seed, 7)))
        .as("i94mode"),
      when(orphanRow(991, 7), at(arr(orphanAddr), orphanIx(991, orphanAddr.size)))
        .otherwise(stateOrNull).as("i94addr"),
      (lit(1.0) + uint("age", seed, 90).cast(DoubleType)).as("i94bir"),
      when(orphanRow(983, 11), at(arr(orphanVisa), orphanIx(983, orphanVisa.size)).cast(DoubleType))
        .otherwise((uint("visa", seed, 3) + 1).cast(DoubleType)).as("i94visa"),
      lit(1.0).as("count"),
      format_string("201604%02d", uint("dtad", seed, 30) + 1).as("dtadfile"),
      strNull("visapost_n", 0.62, pick(Seq("SPL", "MEX", "BNS", "TKY"), "visapost", seed)).as("visapost"),
      strNull("occup_n", 0.996, lit("STU")).as("occup"),
      lit(null).cast(StringType).as("entdepu"),
      strNull("insnum_n", 0.965, format_string("%05d", uint("insnum", seed, 99999))).as("insnum"),
      strNull("fltno_n", 0.008, format_string("%05d", uint("fltno", seed, 99999))).as("fltno"),
      pick(Seq("G", "T", "O", "Z"), "entdepa", seed).as("entdepa"),
      strNull("entdepd_n", 0.05, pick(Seq("O", "K", "R"), "entdepd", seed)).as("entdepd"),
      strNull("matflag_n", 0.05, lit("M")).as("matflag"),
      (lit(2016.0) - lit(1.0) - uint("age", seed, 90).cast(DoubleType)).as("biryear"),
      format_string("%08d", uint("dtaddto", seed, 99999999)).as("dtaddto"),
      strNull("gender_n", 0.14, pick(Seq("F", "M", "X"), "gender", seed)).as("gender"),
      pick(Seq("AA", "UA", "DL", "BA", "LH", "AF", "QF"), "airline", seed).as("airline"),
      (lit(5.0e10) + when(isDup, id - 1).otherwise(id).cast(DoubleType)).as("admnum"),
      pick(Seq("B1", "B2", "CP", "E2", "F1", "F2", "GMT", "M1", "WB", "WT"), "visatype", seed)
        .as("visatype"))
    fact.write.mode(SaveMode.Overwrite).parquet(dir.resolve("sas_data").toString)

    // Every row congruent to 5 mod 997 carries an orphan i94res.
    val orphanResRows = if (factRows > 5) (factRows - 6) / 997 + 1 else 0L
    Planted(
      factRows = factRows, duplicateAdmnum = dups, cities = cities, countries = codes.size,
      arrivalDays = 30,
      orphans = Map(
        "immigration.i94res->country.Code" -> orphanRes.size.toLong,
        "immigration.i94addr->demographics.State Code" -> orphanAddr.size.toLong,
        "immigration.i94visa->i94visa.vid" -> orphanVisa.size.toLong,
        "immigration.i94mode->i94mode.i94mode" -> orphanMode.size.toLong,
        "immigration.arrdate->i94date.arrival_sasdate" -> 0L),
      orphanResRows = orphanResRows)
  }
}
