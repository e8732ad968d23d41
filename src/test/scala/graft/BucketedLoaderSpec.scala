package graft

import org.apache.spark.sql.functions._

/** Contract of the layout-aware loader (round-10): Tables.load serves a
  * materialized bucketed copy of orders/lineitem when one is present and
  * FRESH, falls back to the plain parquet otherwise, and never changes
  * the rows — only the physical plan.
  *
  * All three tests operate on a PRIVATE temp copy of the corpus — never
  * on the shared sfDir — so the suite-wide session's plans stay
  * independent of this spec's materialization side effects. */
class BucketedLoaderSpec extends SparkSpec {

  /** Temp corpus with orders/lineitem copied from sfDir. */
  private lazy val dir: String = {
    val d = ScratchDir.create("graft_bucket_loader")
    Seq("orders", "lineitem").foreach { n =>
      spark.read.schema(Tables.schemas(n)).parquet(s"$sfDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$d/$n.parquet")
    }
    Tables.materializeBuckets(spark, d)
    d
  }

  test("bucketed copy serves identical rows and routes to the catalog copy") {
    val df = Tables.load(spark, dir, "orders")
    val plan = df.queryExecution.executedPlan.toString
    // A bare scan gets its bucketed read disabled by the planner
    // (DisableUnnecessaryBucketedScan — nothing exploits the partitioning),
    // but it must READ the materialized copy; the join test below pins the
    // exploited "Bucketed: true" form.
    assert(plan.contains("graft_b_"),
      s"expected the scan to route to the bucketed catalog copy:\n$plan")
    val got = df.orderBy("o_orderkey").limit(50).collect().map(_.toSeq).toSeq
    val plain = spark.read.schema(Tables.schemas("orders"))
      .parquet(s"$dir/orders.parquet")
      .orderBy("o_orderkey").limit(50).collect().map(_.toSeq).toSeq
    assert(got == plain, "bucketing must never change the rows")
  }

  test("orderkey join over the bucketed copies is exchange- and sort-free") {
    val joined = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    val joinSection = plan.split("SortMergeJoin").last
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"bucketed orderkey join must not shuffle its inputs:\n$plan")
    assert(!joinSection.contains("Sort "),
      s"one-file-per-bucket SORTED BY metadata must elide the SMJ sorts:\n$plan")
  }

  test("a stale fingerprint invalidates the copy (regeneration guard)") {
    assert(Tables.load(spark, dir, "orders").queryExecution.executedPlan
      .toString.contains("graft_b_"))
    // Regenerate the source (content may be identical; IDENTITY changed).
    val f = new java.io.File(s"$dir/orders.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(f.setLastModified(f.lastModified() + 60000))
    val plan2 = Tables.load(spark, dir, "orders")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("graft_b_"),
      s"stale bucketed copy must not be served:\n$plan2")
    // lineitem's copy is untouched and still serves.
    assert(Tables.load(spark, dir, "lineitem").queryExecution.executedPlan
      .toString.contains("graft_b_"))
  }

  test("a same-name same-size same-mtime regeneration with different " +
      "CONTENT invalidates the copy (fingerprint content sample, round-11)") {
    val d = ScratchDir.create("graft_bucket_content")
    Seq("orders", "lineitem").foreach { n =>
      spark.read.schema(Tables.schemas(n)).parquet(s"$sfDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$d/$n.parquet")
    }
    Tables.materializeBuckets(spark, d)
    assert(Tables.load(spark, d, "orders").queryExecution.executedPlan
      .toString.contains("graft_b_"))
    // Flip one byte INSIDE a data file, then restore name/size/mtime —
    // the length:mtime fingerprint alone would still validate.
    val f = new java.io.File(s"$d/orders.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val mtime = f.lastModified()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    assert(f.setLastModified(mtime))
    val plan2 = Tables.load(spark, d, "orders")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains(s"graft_b_${d.replaceAll("[^a-zA-Z0-9]", "_")}"),
      s"content-changed source must invalidate the copy:\n$plan2")
  }
}
