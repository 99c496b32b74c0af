package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.etl.CapstonePipeline
import graft.functions.VectorFunctions
import graft.functions.expressions.TextSimHash

/** One benchmark run: a single thread issues the workload's
  * operations in a closed loop (the next one starts when the previous one
  * has finished), checks every output, and prints one JSON result line.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --cache DIR --expected FILE --cpus C [--record | --self-test]
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * untraced and traced passes: traced passes record spans and Spark job
  * counters and give the per-layer metrics; the untraced ones give the
  * tracing overhead.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      cache: Path, expected: Path, cpus: Int, mode: String)

  /** Every argument is required: graftbench/run.py is the one place their
    * values are set. `--workload`, `--seconds` and `--trace` only apply to
    * a benchmark run. */
  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
    val mode = if (a.contains("--record")) "record" else if (a.contains("--self-test")) "self-test" else "run"
    val run = mode == "run"
    Args(
      workload = if (run) need("--workload") else "",
      seed = need("--seed").toLong,
      seconds = if (run) need("--seconds").toDouble else 0.0,
      trace = run && need("--trace") == "1",
      work = Paths.get(need("--work")).toAbsolutePath,
      cache = Paths.get(need("--cache")).toAbsolutePath,
      expected = Paths.get(need("--expected")),
      cpus = need("--cpus").toInt,
      mode = mode)
  }

  /** Scale of the query tables (row counts: DataGen.queryRowCounts). */
  val QuerySf = 0.05
  /** Fact rows of the capstone input. */
  val EtlFactRows = 100000L

  val relational = Seq("q03_join_revenue", "q13_window_topk", "q203_tpch_q5", "q236_tpch_q21")
  val dedupAnn = Seq("q372_weighted_pagerank", "q451_leiden_levels", "q479_shard_collisions")

  val workloads: Map[String, Workload] = Map(
    "etl_star" -> new EtlWorkload(EtlFactRows),
    "query_relational" -> new QueryWorkload(relational, QuerySf),
    "query_dedup_ann" -> new QueryWorkload(dedupAnn, QuerySf, functionsPhase = true))

  /** Size of Spark's cache of generated classes (default 100). A pass
    * generates more distinct classes than that (an etl_star pass about 140),
    * and with the default they would evict each other in a cycle: every pass
    * would recompile all of them, the JIT would never settle on the new
    * classes, and pass times would vary by how far the JIT got. With room
    * for all of them, repeated passes reuse their classes, as in a
    * long-lived session. */
  val CodegenCacheEntries = 2000

  /** Set-up repetitions of a run; setup_s takes their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = args.mode match {
      case "run" => workloads.getOrElse(args.workload,
        sys.error(s"unknown workload '${args.workload}' (have ${workloads.keys.toSeq.sorted.mkString(", ")})"))
      case _ => null
    }
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(args.cpus)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionCreateS = (System.nanoTime() - t0) / 1e9
    val sessionUpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try args.mode match {
      case "record" => Recorder.record(spark, args)
      case "self-test" => if (!SelfTest.run(spark, args)) sys.exit(1)
      case _ =>
        val r = new Runner(spark, args, wl, sessionCreateS, sessionUpS)
        r.run()
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Result of one operation. */
final case class OpResult(name: String, seconds: Double, ok: Boolean, detail: String)

/** A workload: set-up inputs, then passes of operations. */
trait Workload {
  /** Fixed input rows, the numerator of rows_per_s. */
  def inputRows: Long
  /** Makes the inputs that do not depend on the seed, once per build into
    * `cache`. Untimed: its cost depends on the state of the cache, not on
    * the engine. */
  def prepare(spark: SparkSession, cache: Path, tracer: Tracer): Unit = ()
  /** One set-up repetition: generates the seeded inputs into `rep`, or
    * opens the prepared ones through it; returns the tables.open seconds. */
  def setup(spark: SparkSession, rep: Path, seed: Long, tracer: Tracer): Double
  /** Operations of pass number `pass`, in the order they are issued. */
  def passOps(seed: Long, pass: Int): Seq[String]
  def runOp(spark: SparkSession, name: String, op: Int, tracer: Tracer): OpResult
  def functionsPhase: Boolean = false
  /** Fewest timed passes of a run. */
  def minPasses: Int
  /** Seconds of one pass on the 4-core host the benchmark was sized on.
    * A run makes `--seconds / nominalPassS` passes (at least minPasses),
    * a count fixed in advance, so a slower build does the same work. */
  def nominalPassS: Double
  /** Untimed passes before the timed ones. */
  def warmupPasses: Int
}

/** The capstone ETL: one op is one full pipeline pass, as RunCapstone
  * runs it (sequential, unpartitioned writes). */
final class EtlWorkload(factRows: Long) extends Workload {
  private var in: Path = _
  private var out: Path = _
  private var planted: DataGen.Planted = _

  def inputRows: Long = factRows
  def minPasses: Int = 5
  def nominalPassS: Double = 4.0
  def warmupPasses: Int = 3

  def setup(spark: SparkSession, rep: Path, seed: Long, tracer: Tracer): Double = {
    in = rep
    out = rep.resolveSibling("etl-out")
    planted = tracer.span("inputs.generate")(DataGen.capstone(spark, rep, factRows, seed))
    0.0
  }

  def passOps(seed: Long, pass: Int): Seq[String] = Seq("etl_pass")

  def runOp(spark: SparkSession, name: String, op: Int, tracer: Tracer): OpResult = {
    val t0 = System.nanoTime()
    val root = in.toString
    val dups = tracer.span("etl.dup_check", op)(
      CapstonePipeline.duplicateAdmnumCount(spark, s"$root/sas_data"))
    tracer.span("etl.run", op)(CapstonePipeline.run(spark, root, out.toString))
    val staged = tracer.span("etl.read_data", op)(CapstonePipeline.readData(spark, out.toString))
    val report = tracer.span("quality.report", op)(
      CapstonePipeline.qualityReport(spark, staged).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val example = tracer.span("etl.example_query", op)(
      CapstonePipeline.exampleQuery(staged).collect())
    val secs = (System.nanoTime() - t0) / 1e9
    val problems = EtlWorkload.check(planted, dups, report,
      example.length.toLong, example.map(_.getAs[Long]("n_immigrants")).sum)
    OpResult(name, secs, problems.isEmpty, problems.mkString("; "))
  }

  def outputBytes: Long =
    Files.walk(out).iterator().asScala.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .map(Files.size).sum
}

object EtlWorkload {
  /** Every disagreement between the pass's outputs and what was planted. */
  def check(p: DataGen.Planted, dups: Long, report: Map[String, Long],
            exampleRows: Long, immigrants: Long): Seq[String] = {
    val want = p.qualityReport
    val bad = mutable.ArrayBuffer.empty[String]
    if (dups != p.duplicateAdmnum) bad += s"duplicate admnum $dups != planted ${p.duplicateAdmnum}"
    (want.keySet ++ report.keySet).toSeq.sorted.foreach { k =>
      if (want.get(k) != report.get(k)) bad += s"$k: got ${report.get(k)} want ${want.get(k)}"
    }
    if (exampleRows != p.countries) bad += s"example query rows $exampleRows != ${p.countries}"
    val wantImm = p.factRows - p.orphanResRows
    if (immigrants != wantImm) bad += s"example query immigrants $immigrants != $wantImm"
    bad.toSeq
  }
}

/** A query mix through the `noop` sink; one op is one query, and a pass
  * issues every query once in a seed-shuffled order. */
final class QueryWorkload(queries: Seq[String], sf: Double,
                          override val functionsPhase: Boolean = false) extends Workload {
  private var data: Path = _
  private var dir: String = _
  private val expected = mutable.Map.empty[String, String]

  def inputRows: Long = DataGen.queryRowCounts(sf).map(_._2).sum
  def minPasses: Int = 8
  def nominalPassS: Double = 2.5
  def warmupPasses: Int = 6

  /** The query tables do not depend on the run's seed, so they are
    * generated once per build into `cache`. */
  override def prepare(spark: SparkSession, cache: Path, tracer: Tracer): Unit = {
    data = cache.resolve(s"query-sf$sf")
    val done = data.resolve("_COMPLETE")
    if (!Files.exists(done)) {
      tracer.span("inputs.generate")(DataGen.queryTables(spark, data, sf, Recorder.DataSeed))
      Files.createFile(done)
    }
  }

  /** Opens the prepared tables. Each repetition opens them through its own
    * link, so that no path-keyed cache (graft.Tables, Spark's file
    * listing) carries over between repetitions. */
  def setup(spark: SparkSession, rep: Path, seed: Long, tracer: Tracer): Double = {
    Files.createDirectories(rep.getParent)
    Files.createSymbolicLink(rep, data)
    dir = rep.toString
    val t0 = System.nanoTime()
    tracer.span("tables.open") {
      val t = Tables(spark, dir)
      t.registerAll()
      Tables.names.foreach(n => t(n).schema)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def loadExpected(p: Path): Unit =
    expected ++= Recorder.readExpected(p)

  def passOps(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries)

  def runOp(spark: SparkSession, name: String, op: Int, tracer: Tracer): OpResult = {
    val t0 = System.nanoTime()
    try {
      val df = tracer.span("queries.build", op)(SparkEntry.queries(name)(spark, dir))
      val (sink, obs) = Gate.observed(df)
      tracer.span("queries.sink", op)(sink.write.format("noop").mode("overwrite").save())
      val secs = (System.nanoTime() - t0) / 1e9
      val got = Gate.digest(obs)
      val want = expected.get(name)
      val ok = want.contains(got)
      OpResult(name, secs, ok, if (ok) "" else s"digest $got, expected ${want.getOrElse("none")}")
    } catch {
      case e: Exception =>
        OpResult(name, (System.nanoTime() - t0) / 1e9, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Rows per second of two native expressions over the generated
    * embeddings and documents tables, replicated to a fixed row count. */
  def functionsRates(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    def rate(name: String, base: DataFrame, target: Long, agg: DataFrame => DataFrame): Double = {
      val n = base.count()
      val reps = math.max(1L, target / n)
      val big = base.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
      agg(big).collect() // warm-up
      Main.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(s"functions.$name")(agg(big).collect())
        n * reps / ((System.nanoTime() - t0) / 1e9)
      })
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Map(
      "functions.dot_rows_per_s" -> rate("dot", emb, 200000L,
        _.agg(max(VectorFunctions.dot(col("embedding"), col("embedding"))))),
      "functions.fingerprint_rows_per_s" -> rate("fingerprint", docs, 20000L,
        _.agg(max(TextSimHash.textSimhash(col("text"))))))
  }
}
