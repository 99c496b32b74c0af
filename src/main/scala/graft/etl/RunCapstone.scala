package graft.etl

import graft.GraftSession

/** CLI entry point for the capstone pipeline (the reference's
  * `python etl.py`, etl.py:336-337):
  *
  *   runMain graft.etl.RunCapstone <dataRoot> <outputRoot> [--compat] [--partition-fact]
  *
  * Stages the six star-schema tables (the writes run concurrently), reads
  * them back, and prints the quality report (row counts + FK orphan
  * counts, fixed B4 semantics).
  */
object RunCapstone {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunCapstone <dataRoot> <outputRoot> [--compat] [--partition-fact]")
    val Array(dataRoot, outputRoot) = args.take(2)
    val compat =
      if (args.contains("--compat")) CompatConfig.referenceCompat else CompatConfig.fixed
    val spark = GraftSession.local()

    val dups = CapstonePipeline.duplicateAdmnumCount(spark, s"$dataRoot/sas_data")
    println(s"[capstone] duplicate admnum rows (kept, reference B1 check): $dups")

    CapstonePipeline.run(spark, dataRoot, outputRoot, None, compat,
      partitionFactByMonth = args.contains("--partition-fact"))
    val staged = CapstonePipeline.readData(spark, outputRoot)
    CapstonePipeline.qualityReport(spark, staged).show(50, truncate = false)
    CapstonePipeline.exampleQuery(staged).show(10, truncate = false)
    spark.stop()
  }
}
