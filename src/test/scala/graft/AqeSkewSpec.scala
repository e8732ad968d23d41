package graft

import org.apache.spark.sql.functions._

/** AQE skew-join evidence (VERDICT r6 item 7): `join_skew_salted` proves
  * MANUAL salting; this spec proves the runtime layer the engine prefers
  * FIRST — AQE's OptimizeSkewedJoin splitting the hot partition of an
  * unsalted sort-merge join. The skew thresholds are lowered so the
  * mechanism fires at test scale (production keeps the 256 MB default);
  * what is asserted is the MECHANISM: the final adaptive plan carries
  * `skew=true` and results are identical to the unsplit join.
  *
  * The measured AQE-vs-manual-salt crossover at replica scale lives in
  * SCALE.md §skew.
  */
class AqeSkewSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits the hot partition of an unsalted SMJ (skew=true) " +
      "without changing results") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(Option(conf.get(k))).toOption.flatten).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // Fire at kilobyte scale: a partition is "skewed" above 16 KB and
      // 2x the median; split targets ~8 KB. Production keeps defaults
      // (256 MB / 5x) — the mechanism, not the threshold, is under test.
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16384")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
      // Keep the join a shuffle join: a broadcast conversion would dodge
      // the skew machinery entirely.
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // 90%-one-key probe side: the Zipf head in miniature.
      val probe = spark.range(0, 60000)
        .select(when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 100)
          .as("k"), ($"id" * 31 % 997).as("payload"))
      val build = spark.range(0, 100)
        .select($"id".as("k"), concat(lit("dim_"), $"id").as("name"))
      // Downstream must NOT require the join's output partitioning: a
      // same-key groupBy right after the join makes OptimizeSkewedJoin
      // decline (splitting would break the partitioning guarantee and
      // cost an extra shuffle) — itself a scale lesson worth pinning: a
      // skewed join that feeds a same-key aggregate needs salting or
      // forceOptimizeSkewedJoin, AQE alone won't touch it.
      val joined = probe.join(build.hint("merge"), Seq("k"))
        .agg(count(lit(1)).as("n"), sum("payload").as("s"))
      val row = joined.collect().head
      val rows = (row.getLong(0), row.getLong(1))

      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the hot partition; final plan:\n$finalPlan")

      // Ground truth from the probe side alone (every probe key exists in
      // the build side by construction).
      val exp = probe.agg(count(lit(1)).as("n"), sum("payload").as("s"))
        .collect().head
      assert(rows == ((exp.getLong(0), exp.getLong(1))),
        "skew-split join changed results")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
