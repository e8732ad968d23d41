package graft

import org.apache.spark.sql.functions.{col, lit}

/** Physical-plan regression guards: the properties SCALE.md claims must
  * stay true (pushdown reaches the scan, dims broadcast, top-k never does
  * a global sort, LSH never degenerates to a cross join). A refactor that
  * silently loses one of these would still be CORRECT — these tests are
  * what keeps it FAST at scale. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q6: predicates (incl. date bounds) pushed into the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p.take(600))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_quantity,24.0)"), "date/qty bounds must push down")
  }

  test("q6: column pruning reads 4 of 11 lineitem columns") {
    val p = plan("q6_forecast_revenue")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
      .forall(read.contains), read)
    assert(!read.contains("l_partkey") && !read.contains("l_returnflag"), read)
  }

  test("scan_orc: filter pushes into the ORC scan, schema pruned") {
    val p = plan("scan_orc")
    val orcScan = p.linesIterator.filter(_.contains("orc")).mkString("\n")
    assert(p.contains("PushedFilters: [IsNotNull(s_acctbal), GreaterThan(s_acctbal,0.0)]")
      || p.contains("GreaterThan(s_acctbal,0.0)"), p.take(900))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("s_suppkey") && !read.contains("s_nationkey"), read)
  }

  test("topk plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("q5: dim arms localize at plan time, fact side never pre-shuffled") {
    val p = plan("q5_local_supplier")
    // Round-11: the gate-proven-small dim arms (ASIA suppliers, customer
    // projection) ship with the plan as local relations, so the dim-side
    // joins collapse out of the physical plan; the two joins the fact
    // path still performs are broadcast hash (never a fact shuffle), and
    // the big orderkey join is hash, not sort-merge.
    assert(p.contains("LocalDimScan"), "gated dim arms materialize at plan time")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "fact-path joins stay BHJ")
    assert(!p.contains("SortMergeJoin"), "no SMJ in the star join")
  }

  test("scan_date_pruned: the date range reaches the layout copy's scan " +
      "as PartitionFilters (whole day directories skipped at plan time)") {
    val p = plan("scan_date_pruned")
    val scanSection = p.linesIterator
      .dropWhile(!_.contains("Scan parquet")).mkString("\n")
    assert(scanSection.contains("events_bydate"),
      s"scan must read the layout-served partitioned copy:\n${p.take(900)}")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_date"),
      s"date bounds must land in PartitionFilters, got: $pf")
    assert(pf.contains("2024-01-10") && pf.contains("2024-01-16"), pf)
  }

  test("join_partition_pruned: the fact scan reads the layout copy and " +
      "carries a dynamicpruning subquery on event_type") {
    val p = plan("join_partition_pruned")
    assert(p.contains("events_bydate"), p.take(900))
    assert(p.contains("dynamicpruning"),
      s"type-dim join must induce DPP on the partition column:\n${p.take(1200)}")
  }

  test("join_sortmerge keeps the large-large join as SMJ") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("minhash LSH plan contains no cartesian/nested-loop join") {
    val p = plan("dedup_near_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation must be an equi-join")
  }

  test("ann_lsh plan contains no cartesian/nested-loop join") {
    val p = plan("ann_lsh_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("no declared query plans a keyless (single-partition) window") {
    // A keyless total-order window serializes the whole input through ONE
    // task at 100 TB. Every declared query's optimized plan must partition
    // its windows by a real key (VERDICT r1 flagged win_ntile_pct).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val keyless = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      if (keyless.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty, s"keyless windows in: $offenders")
  }

  test("win_range_frame: no sliding RANGE WindowExec survives (cumsum-difference plan)") {
    // Spark's WindowExec re-aggregates a sliding RANGE frame from scratch
    // per row — O(n·w) with a 3-value partition-key parallelism ceiling
    // (round-4 10× run: 51 s at 1.5 M rows). The declared plan must spell
    // it as ROWS-frame cumulative sums only.
    val p = SparkEntry.queries("win_range_frame")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("RangeFrame"),
      "RANGE frame must be re-spelled as ROWS cumsum difference:\n" + p.take(1200))
  }

  test("index_inverted_build: two hash aggregations, no window") {
    // Blocks are doc-id ranges, NOT per-token ranks — a rank window over a
    // hot token (a stopword's postings are O(corpus)) would be the same
    // parallelism ceiling win_range_frame had. The plan must be pure
    // aggregation.
    val p = plan("index_inverted_build")
    assert(!p.contains("Window"), "inverted index build must not window")
    assert(p.contains("Aggregate"), "expected hash aggregation")
  }

  test("search_boolean_query and search_phrase_match: postings joins are " +
    "equi-joins, never cartesian/nested-loop") {
    Seq("search_boolean_query", "search_phrase_match").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must evaluate as postings equi-joins")
    }
  }

  test("search_phrase_match: the token filter is pushed below the " +
    "postings aggregation") {
    // Each phrase word's posting build must aggregate only that token's
    // rows — at 100 TB the filter prunes the index scan instead of
    // aggregating the whole corpus.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val lp = SparkEntry.queries("search_phrase_match")(spark, sfDir)
      .queryExecution.optimizedPlan
    val aggsOverUnfiltered = lp.collect {
      case a: Aggregate if !a.child.collect { case f: Filter => f }
        .exists(f => Seq("table", "scan")
          .exists(w => f.condition.toString.contains(s"= $w"))) => a
    }
    assert(aggsOverUnfiltered.isEmpty,
      "every postings aggregate must sit above a phrase-word filter")
  }

  test("cosine_sim participates in whole-stage codegen") {
    // Simple mode marks whole-stage-codegen operators with "*(n)"; the
    // expression must appear in a starred Project, not an interpreted one.
    // (Execute first so AQE finalizes the plan — stars only render then.)
    val df = SparkEntry.queries("knn_query")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val inCodegen = p.linesIterator
      .exists(l => l.trim.matches("""[:+\-\s]*\*\(\d+\) Project.*cosine_sim.*"""))
    assert(inCodegen, "cosine_sim must sit in a codegen'd Project:\n" + p.take(800))
  }

  test("q4: EXISTS plans as a semi join, never an explode-and-distinct") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), p.take(600))
  }

  test("q10/q18: top-k customers end in TakeOrderedAndProject") {
    assert(plan("q10_returned_items").contains("TakeOrderedAndProject"))
    assert(plan("q18_large_orders").contains("TakeOrderedAndProject"))
  }

  test("q7: all four dims broadcast; fact side never pre-shuffled") {
    val p = plan("q7_volume_shipping")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, "4 dims -> >=4 BHJ")
  }

  test("bitmap distinct: no Expand (the COUNT DISTINCT row explosion)") {
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"), "bitmap path must not expand rows")
  }

  test("fuzzy join: deletion-variant blocking is an equi-join, no cartesian") {
    val p = plan("fuzzy_join_name")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "FastSS candidates must come from an equi-join")
  }

  test("AQE splits a skewed join partition at runtime") {
    // One hot key carrying ~100k rows against a uniform right side: with
    // the skew thresholds scaled to test data, AQE must mark the hot
    // partition skewed and split it (OptimizeSkewedJoin) instead of
    // leaving one straggler task — the runtime half of SCALE.md's skew
    // story (the salted-join spelling in scale.Scale is the static half).
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.get(k))
    try {
      conf.set(keys(0), "2")
      conf.set(keys(1), "8KB")
      conf.set(keys(2), "8KB")
      conf.set(keys(3), "false")
      // The partial agg above the join adds an ENSURE_REQUIREMENTS
      // exchange; without force, OptimizeSkewedJoin refuses any split
      // that adds a shuffle. Forcing mirrors the cluster posture where
      // the straggler dominates the extra exchange.
      conf.set(keys(4), "true")
      conf.set(keys(5), "-1") // force a shuffle join
      val left = spark.range(100000)
        .select((col("id") * 0).as("k"), col("id").as("payload"))
        .unionAll(spark.range(200).select((col("id") + 1).as("k"), col("id")))
      val right = spark.range(201).select(col("id").as("k2"), lit("dim").as("v"))
      // Keep the payload live through the agg so column pruning cannot
      // shrink the hot partition below the skew threshold.
      val joined = left.join(right, col("k") === col("k2"))
        .groupBy("v").agg(org.apache.spark.sql.functions.sum("payload"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") && plan.contains("AQEShuffleRead skewed"),
        "expected a skew-split SMJ + skew-marked AQEShuffleRead:\n" + plan.take(1200))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("window_rank_topn: a capped per-core budget reroutes to the bounded-" +
      "aggregate plan, identical rows; normal budgets keep the window plan") {
    // Round-18 (VERDICT r17 item 6): below the budget floor the declared
    // window top-N must serve the win_topn_agg plan (≤ k rows per group ×
    // partition by construction) instead of WindowGroupLimit's
    // whole-group buffers — the documented 128 MB/core sf100 OOM.
    assert(MemBudget.underFloor(128L << 20, 192L << 20))
    assert(!MemBudget.underFloor(256L << 20, 192L << 20))
    val conf = spark.conf
    try {
      conf.set("spark.graft.test.memPerCoreBytes", (64L << 20).toString)
      val capped = SparkEntry.queries("window_rank_topn")(spark, sfDir)
      val pc = capped.queryExecution.executedPlan.toString
      assert(!pc.contains("Window"),
        "capped budget must not plan a window:\n" + pc.take(800))
      assert(pc.contains("topk_row_agg"),
        "capped budget must serve the bounded aggregate:\n" + pc.take(800))
      val cappedRows = capped.collect().toSeq
      // Pinned above the floor, not unset: the measured budget depends on
      // the test JVM's heap and core count.
      conf.set("spark.graft.test.memPerCoreBytes", (256L << 20).toString)
      val normal = SparkEntry.queries("window_rank_topn")(spark, sfDir)
      val pn = normal.queryExecution.executedPlan.toString
      assert(pn.contains("Window"),
        "normal budget must keep the declared window plan:\n" + pn.take(800))
      assert(normal.collect().toSeq == cappedRows,
        "both plans must return identical rows")
    } finally conf.unset("spark.graft.test.memPerCoreBytes")
  }

  test("MemBudget: local masters are in-driver; local-cluster and cluster " +
      "masters are not") {
    Seq("local", "local[1]", "local[32]", "local[*]", "local[4,2]",
        "local[*, 3]").foreach(m => assert(MemBudget.inDriverMaster(m), m))
    Seq("local-cluster[2,1,1024]", "local[]", "local[x]", "locally",
        "yarn", "spark://host:7077", "k8s://https://host:443").foreach(m =>
      assert(!MemBudget.inDriverMaster(m), m))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At cluster scale Spark injects a bloom filter built from the
    // selective (dimension) side into the fact-side scan — rows that
    // cannot join die before the shuffle. Thresholds are size-gated, so
    // force them down to observe the rewrite on test data; production
    // keeps the defaults (creation side ≤ 10 MB, application side ≥ 10 GB).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val orders = Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F")
      val li = Tables.load(spark, sfDir, "lineitem")
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        "expected BloomFilterMightContain on the fact side:\n" + p.take(1200))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
