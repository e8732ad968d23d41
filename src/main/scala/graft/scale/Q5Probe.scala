package graft.scale

import org.apache.spark.sql.functions._
import graft.Tables

/** q5 stage decomposition at a big tier (round-10): where do the ~0.9 s go
  * once the fact join is bucket-co-located — the lineitem reduction arm,
  * the ordAsia arm, the big SHJ, or the agg? Mirrors the Bench session
  * (cached inputs, bucketed layout, AQE on). Usage: Q5Probe <sfDir> */
object Q5Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx100")
    val spark = graft.GraftSession.local(32)
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compression", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Input caching mirrors the sfx100 bench session; at sfx1000 the
    // inputs exceed the heap — SPARK_GRAFT_PROBE_CACHE=false runs the
    // driver-bench shape (uncached scans, the same-boot A/B config).
    if (sys.env.getOrElse("SPARK_GRAFT_PROBE_CACHE", "true") != "false")
      Tables.schemas.keys.foreach(t =>
        Tables.load(spark, sfDir, t).cache().count())
    def t(n: String) = Tables.load(spark, sfDir, n)

    def best3(label: String)(f: => Long): Unit = {
      f
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[q5probe] $label%-38s best=${runs.map(_._1).min}%.3f s rows=${runs.head._2}")
    }

    val asiaSuppliers = t("supplier")
      .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t("region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val orders = t("orders")
      .filter(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
        to_date(col("o_orderdate")) < lit("1997-01-01"))

    best3("lineitem scan only (count)") { t("lineitem").count() }
    best3("lineitem x bc(asiaSuppliers)") {
      t("lineitem").join(broadcast(asiaSuppliers),
        col("l_suppkey") === col("s_suppkey")).count()
    }
    best3("ordAsia arm (orders x custAsia)") {
      val asiaKeys = asiaSuppliers.select(col("s_nationkey").as("an")).distinct()
      orders.join(t("customer").select("c_custkey", "c_nationkey")
          .join(broadcast(asiaKeys), col("c_nationkey") === col("an"))
          .select("c_custkey", "c_nationkey").hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey")).count()
    }
    best3("declared q5 (count)") {
      graft.SparkEntry.queries("q5_local_supplier")(spark, sfDir).count()
    }
    spark.stop()
  }
}
