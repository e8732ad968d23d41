package graft

import org.apache.spark.sql.functions._

/** Scratch decomposition of per-query bench cost (not part of the driver
  * contract; used to attack the bench gate round by round). Runs in
  * Bench's own session. */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("WARN")
    // The kernels mode never touches the bench tables — skip the pin.
    if (!args.contains("kernels"))
      Tables.schemas.keys.foreach(t =>
        Tables.load(spark, sfDir, t).cache().count())

    def best3(label: String)(f: => Unit): Unit = {
      f
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      println(f"$label%-40s best=${runs.min}%.1f ms runs=${runs.map(r => f"$r%.0f").mkString(",")}")
    }

    // Floor-attribution mode (round-10, VERDICT r9 item 2): for EVERY
    // headline key, the bench-shape time (fresh count(): analyze + optimize
    // + plan + schedule + execute) next to the once-planned execution time
    // (collect() on a pre-planned aggregate: schedule + execute only). The
    // difference is the per-action planning constant the sf0.1 gate pays
    // 20× — the per-query breakdown NOTES_r{N}.md publishes.
    if (args.contains("floor")) {
      def bestOf(n: Int)(f: => Unit): Double = {
        f
        (1 to n).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
        }.min
      }
      val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val stageCount = new java.util.concurrent.atomic.AtomicInteger(0)
      val taskCount = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobCount.incrementAndGet()
            stageCount.addAndGet(j.stageInfos.size)
            taskCount.addAndGet(j.stageInfos.map(_.numTasks).sum)
          }
        })
      println(f"${"key"}%-28s ${"bench_ms"}%9s ${"exec_ms"}%9s ${"plan_ms"}%9s " +
        f"${"analysis"}%9s ${"optim"}%9s ${"physplan"}%9s " +
        f"${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s")
      var (tb, te) = (0.0, 0.0)
      Bench.headline.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val bench = bestOf(3) { df.count() }
        val action = SparkEntry.queries(name)(spark, sfDir).groupBy().count()
        val exec = bestOf(3) { action.collect() }
        // Tracker phase times + scheduler volume for ONE fresh count (what
        // each bench action re-pays): analysis/optimization/physical
        // planning, plus the jobs/stages/tasks the action schedules — the
        // remainder of plan_ms is codegen lookup + that scheduling.
        val fresh = df.groupBy().count()
        Thread.sleep(150) // listener events are async; settle (probe-grade)
        jobCount.set(0); stageCount.set(0); taskCount.set(0)
        fresh.collect()
        Thread.sleep(150)
        val ph = fresh.queryExecution.tracker.phases
        def phMs(k: String) =
          ph.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(-1.0)
        tb += bench; te += exec
        println(f"$name%-28s $bench%9.1f $exec%9.1f ${bench - exec}%9.1f " +
          f"${phMs("analysis")}%9.1f ${phMs("optimization")}%9.1f ${phMs("planning")}%9.1f " +
          f"${jobCount.get()}%5d ${stageCount.get()}%6d ${taskCount.get()}%6d")
      }
      println(f"${"TOTAL"}%-28s $tb%9.1f $te%9.1f ${tb - te}%9.1f")
      spark.stop()
      return
    }

    // Vector-kernel throughput guard (round-17, VERDICT r16 item 8): the
    // codegen'd dot_product/cosine_sim/pq_adc expressions carry the whole
    // ANN family, and nothing pinned their throughput — a silent fallback
    // to interpreted eval (e.g. after a Spark upgrade changes doGenCode
    // contracts) would tax every serve without failing any test. Fixed
    // deterministic corpus (id-derived, no RNG), best-of-3 rows/s per
    // kernel, recorded per round in BENCH_AB — a >2× drop vs the prior
    // round's sample is the regression signal.
    if (args.contains("kernels")) {
      graft.operators.VectorOps.registerFns(spark)
      def bestOf3(f: => Unit): Double = {
        f
        (1 to 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
      }
      Seq((64, 2000000L), (768, 200000L)).foreach { case (dims, n) =>
        val corpus = spark.range(n).select(col("id").as("vec_id"),
          expr(s"transform(sequence(1, $dims), " +
            "j -> cast(sin(id * j + j) as float))").as("embedding"))
          .cache()
        corpus.count()
        val qv = (1 to dims).map(j => math.cos(j * 0.7).toFloat)
        def t(label: String, e: org.apache.spark.sql.Column): Unit = {
          val sec = bestOf3 {
            corpus.agg(sum(e)).collect(): Unit
          }
          println(f"[kernels] $label%-12s dims=$dims%4d n=$n%8d " +
            f"best=$sec%6.3fs = ${n / sec / 1e6}%6.1f Mrows/s")
        }
        t("dot_product", call_function("dot_product", col("embedding"),
          typedLit(qv)))
        t("cosine_sim", call_function("cosine_sim", col("embedding"),
          typedLit(qv)))
        // ADC geometry matches the serve default (m = dims/8, ksub = 16).
        val m = dims / 8
        val codes = corpus.select(col("vec_id"),
          expr(s"transform(sequence(1, $m), " +
            "j -> cast(pmod(vec_id * j, 16) as int))").as("codes"))
          .cache()
        codes.count()
        val lut = (0 until m * 16).map(i => math.sin(i * 0.3))
        val adcSec = bestOf3 {
          codes.agg(sum(call_function("pq_adc", col("codes"),
            typedLit(lut), lit(m), lit(16)))).collect(): Unit
        }
        println(f"[kernels] pq_adc       dims=$dims%4d n=$n%8d " +
          f"best=$adcSec%6.3fs = ${n / adcSec / 1e6}%6.1f Mrows/s")
        corpus.unpersist(); codes.unpersist()
      }
      spark.stop()
      return
    }

    best3("raw job floor: parallelize(8).count") {
      spark.sparkContext.parallelize(1 to 8, 8).count()
    }
    best3("raw job floor: range(600k).count") { spark.range(600000).count() }
    best3("raw sql floor: range(600k) sum(id)") {
      spark.range(600000).agg(sum(col("id"))).count()
    }
    val li = Tables.load(spark, sfDir, "lineitem")
    best3("lineitem.count (cached scan)") { li.count() }
    best3("lineitem parquet count (no cache)") {
      spark.read.schema(Tables.lineitem).parquet(s"$sfDir/lineitem.parquet").count()
    }
    best3("lineitem cached sum(qty)") {
      li.agg(sum(col("l_quantity"))).count()
    }
    println(s"lineitem cached partitions = ${li.rdd.getNumPartitions}")
    val li32 = li.repartition(32).cache()
    li32.count()
    best3("q1 aggs on 32-partition cache") {
      li32.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("s1"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("s2"),
          avg(col("l_quantity")).as("a1"), count(lit(1)).as("n"))
        .count()
    }
    best3("q1 aggs on 32p cache, double sums") {
      li32.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("s1"),
          sum(col("l_extendedprice")).as("s2"),
          avg(col("l_quantity")).as("a1"), count(lit(1)).as("n"))
        .count()
    }
    best3("lineitem groupBy count only") {
      li.groupBy("l_returnflag", "l_linestatus").count().count()
    }
    best3("q1 aggs, no sort") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("s1"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("s2"),
          avg(col("l_quantity")).as("a1"), count(lit(1)).as("n"))
        .count()
    }
    best3("q1 full (declared)") {
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    }
    best3("q1 full collect") {
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).collect()
    }
    val q1df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    best3("q1 prebuilt count") { q1df.count() }

    best3("q3 prebuilt") {
      val df = SparkEntry.queries("q3_shipping_priority")(spark, sfDir)
      df.count()
    }
    val q3df = SparkEntry.queries("q3_shipping_priority")(spark, sfDir)
    best3("q3 prebuilt count") { q3df.count() }
    val tfdf = SparkEntry.queries("text_tokenize_tf")(spark, sfDir)
    best3("tf prebuilt count") { tfdf.count() }
    val wrdf = SparkEntry.queries("window_rank_topn")(spark, sfDir)
    best3("window_rank_topn prebuilt count") { wrdf.count() }
    val sodf = SparkEntry.queries("set_ops")(spark, sfDir)
    best3("set_ops prebuilt count") { sodf.count() }

    // One-shot planning: the count aggregate Dataset is built ONCE, so its
    // lazy QueryExecution plans once and collect() only re-executes.
    def oncePlanned(name: String): Unit = {
      val action = SparkEntry.queries(name)(spark, sfDir).groupBy().count()
      best3(s"$name once-planned collect") { action.collect() }
      val rdd = SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd
      best3(s"$name toRdd.count") { rdd.count() }
    }
    Seq("q1_pricing_summary", "q3_shipping_priority", "text_tokenize_tf",
      "window_rank_topn", "set_ops", "string_funcs").foreach(oncePlanned)

    spark.stop()
  }
}
