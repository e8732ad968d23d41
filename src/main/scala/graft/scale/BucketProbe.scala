package graft.scale

import org.apache.spark.sql.functions._
import graft.Tables

/** sf10 bucketed co-location measurement (round-8): the r7 verdict named
  * the bucketed layout as the alternative attack on the big-join tier.
  * This probe writes orders/lineitem as 32-bucket sorted tables at the
  * given sf dir, then times the orderkey join both ways and counts the
  * exchanges — quantifying what the pay-once write buys every subsequent
  * fact⋈fact join. Results → SCALE.md §layout. */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx100")
    val spark = graft.GraftSession.local(32)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_bucket_probe_wh")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(n: String) = Tables.load(spark, sfDir, n)

    val t0 = System.nanoTime()
    t("orders").write.mode("overwrite")
      .bucketBy(32, "o_orderkey").sortBy("o_orderkey")
      .option("path", "/tmp/graft_bucket_probe/orders_b")
      .saveAsTable("p_orders_b")
    t("lineitem").write.mode("overwrite")
      .bucketBy(32, "l_orderkey").sortBy("l_orderkey")
      .option("path", "/tmp/graft_bucket_probe/lineitem_b")
      .saveAsTable("p_lineitem_b")
    println(f"[bucket] write both tables: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def agg(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    def best3(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      f.count()
      val runs = (1 to 3).map { _ =>
        val s0 = System.nanoTime(); f.count(); (System.nanoTime() - s0) / 1e9
      }
      val plan = f.queryExecution.executedPlan.toString
      val nEx = "(?m)^.*Exchange".r.findAllIn(plan).length
      println(f"$label best=${runs.min}%.2f s exchanges=$nEx " +
        f"runs=${runs.map(r => f"$r%.2f").mkString(",")}")
    }
    best3("[bucket] plain parquet SMJ ")(
      agg(t("orders"), t("lineitem")))
    best3("[bucket] bucketed co-located")(
      agg(spark.table("p_orders_b"), spark.table("p_lineitem_b")))
    spark.stop()
  }
}
