package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.GraftTestBase

/** The partitioned fact layout must prune at read time: a filter on the
  * partition key becomes a PartitionFilter (directories skipped), not a
  * data filter — the read-side payoff of partitionBy at 100 TB. */
class PartitionedWriteSpec extends GraftTestBase {

  test("partitioned fact write prunes partitions on read") {
    // 50k fact rows for a fast write: the reference fact input where it
    // is mounted, else a deterministic in-memory sample shaped per
    // FIXTURES.md §A1 (all-double numerics, i94yr/i94mon 2016.0/4.0)
    val sasData = "/root/reference/data/sas_data"
    val sample =
      if (Files.isDirectory(Paths.get(sasData)))
        spark.read.parquet(sasData).limit(50000)
      else
        spark.range(50000).select(
          (col("id") + 1).cast("double").as("cicid"),
          lit(2016.0).as("i94yr"),
          lit(4.0).as("i94mon"),
          (lit(20545) + col("id") % 30).cast("double").as("arrdate"),
          element_at(array(lit(1.0), lit(2.0), lit(3.0), lit(9.0),
            lit(null).cast("double")), (col("id") % 5 + 1).cast("int"))
            .as("i94mode"),
          (col("id") % 3 + 1).cast("double").as("i94visa"))
    val dir = Files.createTempDirectory("graft_part").toString
    sample.write.mode("overwrite")
      .partitionBy("i94yr", "i94mon").parquet(s"$dir/fact")

    val pruned = spark.read.parquet(s"$dir/fact")
      .filter(col("i94mon") === 4.0 && col("i94yr") === 2016.0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("(i94mon") || plan.contains("i94mon#")),
      s"expected partition filters in:\n$plan")
    // partition pruning must not also re-read data columns for the key
    assert(pruned.count() == sample.filter(col("i94mon") === 4.0).count())

    // a non-existent partition reads zero files worth of rows
    assert(spark.read.parquet(s"$dir/fact")
      .filter(col("i94mon") === 5.0).count() == 0)
  }

  test("persisted LSH band index prunes to the probed band at read time") {
    // SCALE.md's claim, spec-backed: at 100 TB the accumulated
    // corpus's band index is written partitionBy(band_idx) so an
    // incremental-dedup probe (Dedup.minhashGate) touches only the
    // band directories it joins — directory-level pruning, not a
    // data filter over the whole index.
    val docs = graft.Tables(spark, sf001)("documents")
    val idx = graft.operators.Dedup
      .minhashBandRowsMd5(docs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    idx.write.mode("overwrite").partitionBy("band_idx").parquet(s"$dir/idx")

    val probed = spark.read.parquet(s"$dir/idx")
      .filter(col("band_idx") === 2)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("(band_idx") || plan.contains("band_idx#")),
      s"expected band partition filter in:\n$plan")
    assert(probed.count() == idx.filter(col("band_idx") === 2).count())
    // the persisted index round-trips: re-probing it reproduces the
    // in-memory band rows for that band exactly
    val mem = idx.filter(col("band_idx") === 2)
      .select("doc_id", "band_key").collect().map(_.toString).sorted
    val disk = probed.select("doc_id", "band_key")
      .collect().map(_.toString).sorted
    assert(mem.toSeq == disk.toSeq)
  }
}
