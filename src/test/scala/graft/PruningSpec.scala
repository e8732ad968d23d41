package graft

import org.apache.spark.sql.functions._

/** Partition layout behaviors the single-file corpus can't show: static
  * partition pruning on a partitioned write, and dynamic partition pruning
  * (DPP) when the partition filter only materializes through a join —
  * the 100 TB fact-table layout (SCALE.md scan-layer claims). */
class PruningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val partedDir: String = {
    val dir = ScratchDir.create("graft_parted") + "/events"
    Tables.load(spark, sfDir, "events")
      .write.partitionBy("event_type").parquet(dir)
    dir
  }

  test("static partition pruning: filter on the partition column prunes dirs") {
    val df = spark.read.parquet(partedDir).filter($"event_type" === "click")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(800))
    val expected = Tables.load(spark, sfDir, "events")
      .filter($"event_type" === "click").count()
    assert(df.count() == expected)
  }

  test("dynamic partition pruning fires when the filter comes via a join") {
    val dimDir = ScratchDir.create("graft_dim") + "/dim"
    Seq(("click", 1), ("purchase", 2), ("view", 3), ("signup", 4), ("error", 5))
      .toDF("et", "pri").write.parquet(dimDir)
    val joined = spark.read.parquet(partedDir)
      .join(spark.read.parquet(dimDir).filter($"pri" === 1),
        $"event_type" === $"et")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(1200))
    val expected = Tables.load(spark, sfDir, "events")
      .filter($"event_type" === "click").count()
    assert(joined.count() == expected)
  }
}
