package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contract of the layout copies, for each family: the loader serves a
  * copy when it is present and FRESH, stops serving it once its source
  * changes (a new mtime, or new content under the same name, size and
  * mtime), and never changes the rows — only the physical plan.
  *  - orderkey: `Tables.load` of orders/lineitem;
  *  - custkey: `Tables.loadByCust` of customer/orders;
  *  - events by date: `Tables.ensurePartitionedEvents`, which rebuilds a
  *    stale copy instead of falling back.
  *
  * Every test operates on a PRIVATE temp copy of the corpus — never on
  * the shared sfDir — so the suite-wide session's plans stay independent
  * of this spec's materialization side effects. */
class BucketedLoaderSpec extends SparkSpec {

  /** Temp corpus with `tables` copied from sfDir. */
  private def corpus(prefix: String, tables: String*): String = {
    val d = ScratchDir.create(prefix)
    tables.foreach { n =>
      spark.read.schema(Tables.schemas(n)).parquet(s"$sfDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$d/$n.parquet")
    }
    d
  }

  private def dataFile(table: String): java.io.File =
    new java.io.File(table).listFiles()
      .filter(_.getName.endsWith(".parquet")).head

  /** Flip one byte inside `f`, then restore its mtime: name, size and
    * mtime stay, so only the fingerprint's content sample can tell. The
    * writer's `.crc` sidecar goes too, as a regenerated file's would
    * match it; Hadoop's local file system fails a read that it does not. */
  private def flipByte(f: java.io.File): Unit = {
    val mtime = f.lastModified()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    assert(f.setLastModified(mtime))
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Temp corpus with orders/lineitem copied from sfDir. */
  private lazy val dir: String = {
    val d = corpus("graft_bucket_loader", "orders", "lineitem")
    Tables.materializeBuckets(spark, d)
    d
  }

  /** Temp corpus with customer/orders and their custkey copies. */
  private lazy val custDir: String = {
    val d = corpus("graft_bucket_cust", "customer", "orders")
    Tables.materialize(spark, d, "custkey")
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
    val d = corpus("graft_bucket_content", "orders", "lineitem")
    Tables.materializeBuckets(spark, d)
    assert(Tables.load(spark, d, "orders").queryExecution.executedPlan
      .toString.contains("graft_b_"))
    // Flip one byte INSIDE a data file, then restore name/size/mtime —
    // the length:mtime fingerprint alone would still validate.
    flipByte(dataFile(s"$d/orders.parquet"))
    val plan2 = Tables.load(spark, d, "orders")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains(s"graft_b_${d.replaceAll("[^a-zA-Z0-9]", "_")}"),
      s"content-changed source must invalidate the copy:\n$plan2")
  }

  test("custkey copies serve identical rows and route to the catalog copy") {
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey").foreach {
      case (n, key) =>
        val df = Tables.loadByCust(spark, custDir, n)
        assert(plan(df).contains("graft_bc_"),
          s"expected $n to route to its custkey catalog copy:\n${plan(df)}")
        val got = df.orderBy(key).limit(50).collect().map(_.toSeq).toSeq
        val plain = spark.read.schema(Tables.schemas(n))
          .parquet(s"$custDir/$n.parquet")
          .orderBy(key).limit(50).collect().map(_.toSeq).toSeq
        assert(got == plain, s"the custkey copy changed the rows of $n")
    }
  }

  test("a stale fingerprint invalidates a custkey copy (mtime, then " +
      "content)") {
    val slug = custDir.replaceAll("[^a-zA-Z0-9]", "_")
    val f = dataFile(s"$custDir/customer.parquet")
    assert(f.setLastModified(f.lastModified() + 60000))
    val customer = plan(Tables.loadByCust(spark, custDir, "customer"))
    assert(!customer.contains("graft_bc_"),
      s"stale custkey copy must not be served:\n$customer")
    // orders' copy is untouched and still serves, until its content flips.
    assert(plan(Tables.loadByCust(spark, custDir, "orders"))
      .contains(s"graft_bc_$slug"))
    flipByte(dataFile(s"$custDir/orders.parquet"))
    val orders = plan(Tables.loadByCust(spark, custDir, "orders"))
    assert(!orders.contains(s"graft_bc_$slug"),
      s"content-changed source must invalidate the custkey copy:\n$orders")
  }

  test("the events copy serves identical rows and is rebuilt when its " +
      "source goes stale (mtime, then content)") {
    val d = ScratchDir.create("graft_bucket_events")
    // Uncompressed plain pages: the flipped byte lands in event_id values,
    // so the changed source still reads, with one event_id changed.
    Tables.loadEvents(spark, s"$sfDir/events.parquet").coalesce(1).write
      .option("compression", "none").option("parquet.enable.dictionary", "false")
      .parquet(s"$d/events.parquet")
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    def plain = rows(Tables.loadEvents(spark, s"$d/events.parquet")
      .withColumn("event_date", to_date(col("ts"))))
    val marker = java.nio.file.Paths.get(
      s"${Tables.layoutRoot(d)}/events_bydate/_graft_layout")
    def recorded = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")

    val first = Tables.ensurePartitionedEvents(spark, d)
    assert(first.inputFiles.forall(_.contains("/events_bydate/")),
      s"expected the scan to read the partitioned copy:\n${plan(first)}")
    val rows0 = rows(first)
    assert(rows0.nonEmpty && rows0 == plain,
      "the partitioned copy changed the rows")
    val m0 = recorded

    val f = dataFile(s"$d/events.parquet")
    assert(f.setLastModified(f.lastModified() + 60000))
    assert(rows(Tables.ensurePartitionedEvents(spark, d)) == rows0)
    val m1 = recorded
    assert(m1 != m0, "a copy of a re-timed source must be rebuilt")

    flipByte(f)
    val rows2 = rows(Tables.ensurePartitionedEvents(spark, d))
    assert(recorded != m1, "a copy of a changed source must be rebuilt")
    assert(rows2 != rows0 && rows2 == plain,
      "the rebuilt copy must serve the changed source's rows")
  }
}
