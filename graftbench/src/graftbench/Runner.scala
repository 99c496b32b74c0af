package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up, warm-up, then timed passes for the run's
  * duration, and prints the result. */
final class Runner(spark: SparkSession, args: Main.Args, wl: Workload,
                   sessionCreateS: Double, sessionUpS: Double) {
  import Main.{json, median}
  import Runner.Pass

  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private val listener = new JobListener
  private val results = mutable.ArrayBuffer.empty[OpResult]
  private var nextOp = 0

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ > 0).sum / 1000.0

  private def runOps(ops: Seq[String]): Seq[OpResult] = ops.map { name =>
    nextOp += 1
    val op = nextOp
    val r = tracer.span("bench.op", op)(wl.runOp(spark, name, op, tracer))
    if (!r.ok) System.err.println(s"[graftbench] FAILED ${r.name}: ${r.detail}")
    results += r
    r
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  private def pass(ops: Seq[String], traced: Boolean): Pass = {
    if (traced) { sc.addSparkListener(listener); tracer.enabled = true }
    val gc0 = gcSeconds
    val c0 = osBean.getProcessCpuTime
    val j0 = jit.getTotalCompilationTime
    val h0 = Runner.hostCpu()
    val g0 = Bus.codegenCompiles
    val t0 = System.nanoTime()
    val rs = tracer.span("bench.pass")(runOps(ops))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (osBean.getProcessCpuTime - c0) / 1e9
    val jitS = (jit.getTotalCompilationTime - j0) / 1000.0
    val steal = Runner.stealShare(h0, Runner.hostCpu())
    val codegen = Bus.codegenCompiles - g0
    if (!traced) Pass(wall, rs, traced = false, Map.empty, Map.empty, Nil, cpu, jitS, steal, codegen)
    else {
      val gc = gcSeconds - gc0
      Bus.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
      tracer.enabled = false
      val (m, self, spans) = passMetrics(wall, gc)
      Pass(wall, rs, traced = true, m, self, spans, cpu, jitS, steal, codegen)
    }
  }

  private val traced = mutable.ArrayBuffer.empty[Span]
  private var setupSpans: Seq[Span] = Nil
  private var fnSpans: Seq[Span] = Nil

  /** Per-layer counters, self times and spans of the pass just traced. */
  private def passMetrics(wall: Double, gc: Double): (Map[String, Double], Map[String, Double], Seq[Span]) = {
    val spans = tracer.spans
    tracer.clear()
    val names = spans.map(s => s.id -> s.name).toMap
    val jobs = listener.drain()
    val jobSpans = jobs.filter(_.endMs >= 0).map { j =>
      val kind =
        if (names.get(j.span).contains("queries.build"))
          if (j.isCheckpoint) "operators.checkpoint" else "operators.probe"
        else "spark.job"
      Span(tracer.newId(), kind, tracer.fromEpochMs(j.startMs), tracer.fromEpochMs(j.endMs), j.span, j.op)
    }
    val all = spans ++ jobSpans
    def secs(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e9
    val kinds = jobSpans.groupBy(_.name)
    val eager = kinds.getOrElse("operators.checkpoint", Nil) ++ kinds.getOrElse("operators.probe", Nil)
    val factRows = wl.inputRows.toDouble
    def reads(prefix: String) =
      jobs.filter(j => names.get(j.span).exists(_.startsWith(prefix))).map(_.recordsRead).sum / factRows
    val build = secs("queries.build"); val sink = secs("queries.sink")
    val taskRun = jobs.map(_.runMs).sum / 1000.0
    val m = Map(
      "etl.dup_check_s" -> secs("etl.dup_check"),
      "etl.run_s" -> secs("etl.run"),
      "etl.read_data_s" -> secs("etl.read_data"),
      "etl.example_query_s" -> secs("etl.example_query"),
      "etl.fact_scans" -> (if (wl.isInstanceOf[EtlWorkload]) reads("etl.") else 0.0),
      "quality.report_s" -> secs("quality.report"),
      "quality.fact_scans" -> (if (wl.isInstanceOf[EtlWorkload]) reads("quality.") else 0.0),
      "queries.build_s" -> build,
      "queries.sink_s" -> sink,
      "queries.build_share" -> (if (build + sink > 0) build / (build + sink) else 0.0),
      "queries.eager_jobs" -> eager.size.toDouble,
      "operators.checkpoint_jobs" -> kinds.getOrElse("operators.checkpoint", Nil).size.toDouble,
      "operators.checkpoint_s" -> kinds.getOrElse("operators.checkpoint", Nil).map(_.dur).sum / 1e9,
      "operators.probe_jobs" -> kinds.getOrElse("operators.probe", Nil).size.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> taskRun,
      "spark.core_util" -> taskRun / (wall * args.cpus),
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / 1048576.0,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / 1048576.0,
      "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
      "jvm.gc_s" -> gc)
    (m, Tracer.selfTimes(all).map { case (k, v) => k -> v / 1e9 }, all)
  }

  def run(): Unit = {
    val name = args.workload
    // Seed-independent inputs are prepared untimed and untraced. Set-up is
    // repeated SetupReps times, each into its own directory; the last one
    // is used.
    wl.prepare(spark, args.cache, tracer)
    if (args.trace) { tracer.enabled = true; sc.addSparkListener(listener) }
    val h0 = Runner.hostCpu()
    val reps = (0 until Main.SetupReps).map { i =>
      val t0 = System.nanoTime()
      val open = wl.setup(spark, args.work.resolve("inputs").resolve(s"$name-$i"), args.seed, tracer)
      ((System.nanoTime() - t0) / 1e9, open)
    }
    wl match {
      case q: QueryWorkload => q.loadExpected(args.expected)
      case _ =>
    }
    if (args.trace) {
      Bus.waitUntilEmpty(sc)
      listener.drain()
      setupSpans = tracer.spans
      traced ++= setupSpans
      tracer.clear()
      tracer.enabled = false
      sc.removeSparkListener(listener)
    }
    val w0 = System.nanoTime()
    (1 to wl.warmupPasses).foreach(w => runOps(wl.passOps(args.seed, -w)))
    val warmup = (System.nanoTime() - w0) / 1e9
    val setupS = sessionUpS + median(reps.map(_._1)) + warmup
    val setupSteal = Runner.stealShare(h0, Runner.hostCpu())

    // Timed passes, closed loop: a fixed number of passes, each issuing
    // its ops one after another. A pass during which the hypervisor took
    // more than MaxStealShare of the machine's CPU measures the host, not
    // the engine: it is dropped and run again, up to MaxDropped times.
    // Beyond that such passes are kept and counted as contaminated, so
    // that a run under sustained steal still ends, in bounded time, with a
    // result that says so.
    val nPasses = math.max(wl.minPasses, math.round(args.seconds / wl.nominalPassS).toInt)
    val kept = mutable.ArrayBuffer.empty[Pass]
    val dropped = mutable.ArrayBuffer.empty[Pass]
    var next = 0
    while (kept.size < nPasses) {
      val p = pass(wl.passOps(args.seed, next), traced = args.trace && kept.size % 2 == 1)
      next += 1
      if (p.steal > Runner.MaxStealShare && dropped.size < Runner.MaxDropped) {
        System.err.println(f"[graftbench] pass dropped: host steal ${p.steal * 100}%.1f%% of CPU")
        dropped += p
      } else {
        kept += p
        traced ++= p.spans
      }
    }
    val passes = kept.toSeq
    val contaminated = passes.count(_.steal > Runner.MaxStealShare)

    val timed = passes.filterNot(_.traced)
    val wall = median(timed.map(_.wall))
    val opTimes = timed.flatMap(_.ops.map(_.seconds))
    val failed = results.count(!_.ok)

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("rows_per_s", wl.inputRows / wall, "1/s"),
        ("op_p50_s", median(opTimes), "s"))
      else {
        val tp = passes.filter(_.traced)
        def med(k: String) = median(tp.map(_.metrics(k)))
        val fn = wl match {
          case q: QueryWorkload if q.functionsPhase =>
            tracer.enabled = true
            val r = q.functionsRates(spark, tracer)
            fnSpans = tracer.spans
            traced ++= fnSpans
            tracer.clear()
            tracer.enabled = false
            r
          case _ => Map("functions.dot_rows_per_s" -> 0.0, "functions.fingerprint_rows_per_s" -> 0.0)
        }
        val etlBytes = wl match {
          case e: EtlWorkload => e.outputBytes.toDouble
          case _ => 0.0
        }
        // Pass times still fall while the JIT warms up, so each traced pass
        // is compared with the untraced passes next to it.
        val overhead = median(passes.indices.filter(passes(_).traced).map { i =>
          val near = Seq(i - 1, i + 1).filter(passes.indices.contains).map(passes(_)).filterNot(_.traced)
          passes(i).wall / (near.map(_.wall).sum / near.size) - 1
        })
        val layer = tp.head.metrics.keys.toSeq.sorted.map(k => (k, med(k), Runner.unit(k)))
        writeTrace(tp, overhead, setupS)
        Seq(
          ("session.create_s", sessionCreateS, "s"),
          ("tables.open_s", median(reps.map(_._2)), "s"),
          ("etl.output_bytes", etlBytes, "bytes")) ++ layer ++
          fn.toSeq.sorted.map { case (k, v) => (k, v, "1/s") } ++ Seq(
          ("jvm.retained_heap_mb", retainedHeapMb(), "MB"),
          ("trace.overhead", overhead, "ratio"),
          ("bench.failed_frac", failed.toDouble / results.size, "ratio"))
      }

    println("# env " + json(Runner.env(spark, args) ++ Map(
      "workload" -> name, "passes" -> passes.size, "traced_passes" -> passes.count(_.traced),
      "setup_reps" -> Main.SetupReps, "input_rows" -> wl.inputRows,
      "session_up_s" -> sessionUpS, "setup_rep_s" -> reps.map(_._1), "warmup_s" -> warmup,
      "setup_steal" -> setupSteal, "pass_s" -> passes.map(_.wall), "pass_cpu_s" -> passes.map(_.cpu),
      "pass_jit_s" -> passes.map(_.jit), "pass_codegen" -> passes.map(_.codegen), "pass_steal" -> passes.map(_.steal),
      "dropped_pass_s" -> dropped.map(_.wall), "dropped_pass_steal" -> dropped.map(_.steal),
      "contaminated_passes" -> contaminated)))
    if (contaminated > 0)
      println(f"# contaminated: $contaminated%d of ${passes.size}%d timed passes ran under host steal " +
        f"above ${Runner.MaxStealShare * 100}%.0f%% of CPU, after ${dropped.size}%d were dropped")
    Runner.tail(opTimes).foreach { case (pct, v, n) =>
      println(f"# op_tail_s p$pct%d = $v%.4f s over $n%d ops (${n - math.ceil(pct * n / 100.0).toInt}%d beyond)")
    }
    println("# op_s " + json(timed.flatMap(_.ops).groupBy(_.name).map { case (n, rs) =>
      val t = rs.map(_.seconds)
      n -> Map("median" -> median(t), "min" -> t.min, "max" -> t.max, "n" -> t.size)
    }))
    println(s"# failed_frac ${failed.toDouble / results.size} ($failed of ${results.size} ops)")
    println(json(Map(
      "correct" -> (failed == 0),
      "attempted" -> results.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  /** Live heap after a full collection, in MiB. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Writes the spans and a summary (self time per layer and pass,
    * tracing overhead) under `<work>/../traces`. */
  private def writeTrace(tp: Seq[Pass], overhead: Double, setupS: Double): Unit = {
    val dir = args.work.resolveSibling("traces")
    val stem = s"${args.workload}-seed${args.seed}"
    val lines = traced.map { s =>
      json(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start / 1e6,
        "end_ms" -> s.end / 1e6, "parent" -> s.parent, "op" -> s.op))
    }
    Main.write(dir.resolve(s"$stem.spans.jsonl"), lines.mkString("", "\n", "\n"))
    val layers = tp.flatMap(_.self.keys).distinct.sorted
    val self = layers.map(l => l -> median(tp.map(_.self.getOrElse(l, 0.0)))).toMap
    def selfS(spans: Seq[Span], per: Double) =
      Tracer.selfTimes(spans).map { case (k, v) => k -> v / 1e9 / per }
    val summary = Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "pass_s" -> median(tp.map(_.wall)),
      "self_s_per_pass" -> self,
      "setup_self_s" -> (selfS(setupSpans, Main.SetupReps) + ("session" -> sessionCreateS)),
      "functions_phase_self_s" -> selfS(fnSpans, 1),
      "setup_s" -> setupS,
      "trace_overhead" -> overhead,
      "traced_passes" -> tp.size)
    Main.write(dir.resolve(s"$stem.summary.json"), json(summary) + "\n")
    println("# self_s per pass " + json(self))
    println(f"# trace overhead ${overhead * 100}%.1f%% (median of each traced pass against the untraced passes next to it)")
  }
}

object Runner {
  /** One timed pass: `cpu` is the process's CPU seconds, `jit` the JIT
    * compiler's seconds, `steal` the share of the machine's CPU time the
    * hypervisor took during the pass, `codegen` the classes Spark
    * generated. */
  final case class Pass(wall: Double, ops: Seq[OpResult], traced: Boolean,
                        metrics: Map[String, Double], self: Map[String, Double], spans: Seq[Span],
                        cpu: Double, jit: Double, steal: Double, codegen: Long)

  /** Share of the machine's CPU time above which a pass is dropped. */
  val MaxStealShare = 0.15
  /** Most passes a run drops for steal. */
  val MaxDropped = 2

  /** Steal and total jiffies of all CPUs (Linux /proc/stat); (0, 0) where
    * unavailable, which counts as no steal. */
  def hostCpu(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def unit(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_jobs") || metric.endsWith("_tasks") || metric == "spark.jobs" ||
      metric == "spark.stages" || metric == "spark.tasks") "count"
    else "ratio"

  /** The highest whole percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val n = xs.size
    val pct = math.floor(100.0 * (n - 10) / n).toInt
    if (n < 20 || pct < 50) None
    else {
      val s = xs.sorted
      val rank = math.ceil(pct * n / 100.0).toInt
      Some((pct, s(rank - 1), n))
    }
  }

  def env(spark: SparkSession, args: Main.Args): Map[String, Any] = Map(
    "cpus" -> args.cpus,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "commit" -> sys.props.getOrElse("graftbench.commit", "unknown"),
    "source_sha" -> sys.props.getOrElse("graftbench.source", "unknown"),
    "seed" -> args.seed, "seconds" -> args.seconds)
}
