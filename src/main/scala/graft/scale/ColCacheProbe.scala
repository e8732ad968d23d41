package graft.scale


/** Scan-side lever measurement for the sf100 A/B's three `weak` keys
  * (round 14, VERDICT r13 item 5): rollup_agg / exact_dedup /
  * approx_distinct are single-scan aggregations whose gap vs DuckDB is
  * the repeated parquet decode, not the plan. This probe measures the
  * bounded projection cache (graft.ColumnCache) on exactly those keys,
  * same-boot: phase A (cache disabled, parquet-direct — the r13 A/B
  * methodology), phase B (budgeted projection cache), then phase A again
  * to show the baseline did not drift. 1 warm-up + best-of-3 per key per
  * phase, the BASELINE.md methodology; run tools/bench_ab.py on the same
  * dir in the same session for the DuckDB leg.
  *
  * Usage: ColCacheProbe [sfDir] [budgetMb]
  */
object ColCacheProbe {
  private val Keys =
    Seq("rollup_agg", "approx_distinct", "exact_dedup", "distinct_agg")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx1000")
    val budgetMb = args.lift(1).map(_.toLong).getOrElse(16384L)
    val spark = graft.GraftSession.local(64)
      // Cached-batch compression is itself a measured variable at this
      // tier (dict/RLE-encoded batches scan fewer bytes; uncompressed
      // ones skip per-scan decode) — default false, flip via env.
      .config("spark.sql.inMemoryColumnarStorage.compression",
        sys.env.getOrElse("SPARK_GRAFT_PROBE_COMPRESS", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def bestOf3(name: String): Double = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count() // warm-up (and cache materialization in phase B)
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    def phase(label: String): Map[String, Double] =
      Keys.map { k =>
        val t = bestOf3(k)
        println(f"[colcache] $label $k%-16s best3=$t%.3f s")
        k -> t
      }.toMap

    sys.props -= "graft.colcache.mb"
    graft.ColumnCache.clear()
    val a1 = phase("direct ")

    sys.props("graft.colcache.mb") = budgetMb.toString
    graft.ColumnCache.clear()
    val b = phase("cached ")
    println(f"[colcache] admitted=${
      graft.ColumnCache.admittedBytes(spark).toDouble / (1L << 30)}%.2f GiB " +
      s"(budget ${budgetMb} MiB)")

    sys.props -= "graft.colcache.mb"
    graft.ColumnCache.clear()
    val a2 = phase("direct2")

    Keys.foreach { k =>
      println(f"[colcache] summary $k%-16s direct=${a1(k)}%.3f s " +
        f"cached=${b(k)}%.3f s direct2=${a2(k)}%.3f s " +
        f"speedup=${a1(k).min(a2(k)) / b(k)}%.2f x")
    }
    spark.stop()
  }
}
