package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.lit
import graft.GraftTestBase

/** Job-count guard for the local-graph dispatch of the iterative graph
  * operators ([[LocalProbe.collect]]): on a small integral graph each
  * entry point takes the driver-local path with a fixed number of
  * bounded-take probe jobs, and with both ceilings at 0 it launches no
  * probe job and returns a distributed result. A changed count is a
  * changed dispatch: a probe added, dropped or run twice. */
class GraphDispatchJobsSpec extends GraftTestBase {
  import spark.implicits._

  // a triangle, a path off it and a separate pair, both directions;
  // repartitioned so every probe is a real Spark job, not a scan of a
  // driver-local relation
  private val undirected = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
  private lazy val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    .withColumn("w", lit(1L)).withColumn("weight", lit(1L)).repartition(2)
  private lazy val seeds = Seq(1L, 6L).toDF("node").repartition(2)
  private lazy val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L), (7L, 6L))
    .toDF("id", "community").repartition(2)

  /** (name, call, probe jobs, all jobs) — the jobs each call launches on
    * the local path. A take over a shuffled relation runs each AQE map
    * stage as a job of its own, so one probe is several jobs here. */
  private lazy val calls: Seq[(String, () => DataFrame, Int, Int)] = Seq(
    ("PageRank.run", () => PageRank.run(edges, iters = 5), 3, 3),
    ("PageRank.personalized", () => PageRank.personalized(edges, seeds, iters = 5), 6, 6),
    ("PageRank.runWeighted", () => PageRank.runWeighted(edges, iters = 5), 3, 3),
    ("Louvain.cluster", () => Louvain.cluster(edges, "src", "dst", "w", rounds = 3), 2, 2),
    ("Louvain.contract", () => Louvain.contract(edges, "src", "dst", "w", comm), 4, 4),
    ("Louvain.refine", () => Louvain.refine(edges, "src", "dst", comm), 4, 4),
    ("LabelPropagation.run", () => LabelPropagation.run(edges, iters = 3), 1, 4),
    ("RandomWalk.walks", () => RandomWalk.walks(edges, steps = 3, salt = "s"), 3, 3),
    ("ConnectedComponents.components",
      () => ConnectedComponents.components(edges, "src", "dst"), 1, 4))

  /** Call sites of the jobs launched by `body`. A job of a Dataset
    * action is named by its SQL execution's call site (AQE submits its
    * map stages from other threads), any other job by its last stage.
    * Jobs are tagged with a job group that sets no description, so the
    * execution keeps its call site; a marker job drains the bus. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"graph-dispatch-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val executions = TrieMap.empty[String, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions(s.executionId.toString) = s.description
        case _ =>
      }
    }
    def groupOf(j: SparkListenerJobStart) = j.properties.getProperty("spark.jobGroup.id")
    def inGroup[B](g: String)(b: => B): B = {
      sc.setLocalProperty("spark.jobGroup.id", g)
      try b finally sc.setLocalProperty("spark.jobGroup.id", null)
    }
    sc.addSparkListener(listener)
    try {
      val result = inGroup(group)(body)
      inGroup(s"$group-drained")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!jobs.asScala.exists(groupOf(_) == s"$group-drained") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.exists(groupOf(_) == s"$group-drained"), "listener never saw the drain job")
      val sites = jobs.asScala.toSeq.filter(groupOf(_) == group).map { j =>
        Option(j.properties.getProperty("spark.sql.execution.id")).flatMap(executions.get)
          .getOrElse(j.stageInfos.maxBy(_.stageId).name)
      }
      (result, sites)
    } finally sc.removeSparkListener(listener)
  }

  private def isProbe(site: String) = site.startsWith("take at ")
  private def isLocal(df: DataFrame) = df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("each graph operator probes a small graph with its fixed jobs and runs locally") {
    val failures = calls.flatMap { case (name, call, probes, all) =>
      val (df, sites) = jobsOf(call())
      val got = (sites.count(isProbe), sites.size, isLocal(df))
      if (got == ((probes, all, true))) None
      else Some(s"$name: (probe jobs, jobs, local) = $got, expected ($probes, $all, true); sites $sites")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("with both ceilings at 0 no graph operator probes, and each runs distributed") {
    val failures = calls.flatMap { case (name, call, _, _) =>
      val (df, sites) = jobsOf(LocalProbe.withCeilings(nodes = 0, edges = 0)(call()))
      val got = (sites.count(isProbe), isLocal(df))
      if (got == ((0, false))) None
      else Some(s"$name: (probe jobs, local) = $got, expected (0, false); sites $sites")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
