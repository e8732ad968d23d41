package graft

import org.apache.spark.sql.SparkSession

/** Library entry points for users of the engine (SURVEY §3).
  *
  * `GraftSession.builder()` is the only way the engine builds a session:
  * it wires GraftExtensions (cosine_sim / dot_product / rule seam) and the
  * engine's baseline configs. Every main, probe and the test session starts
  * from it and adds only its own differences as visible `.config` lines.
  * `Views.register` exposes the corpus tables as temp views so every
  * operator is reachable from SQL text (`spark.sql(...)`) as well as the
  * DataFrame API.
  */
object GraftSession {
  /** Core count of the local mains: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `builder` on `local[cpus]` with the web UI off: the start of every
    * main and probe. */
  def local(shufflePartitions: Int = cpus): SparkSession.Builder =
    builder(s"local[$cpus]", shufflePartitions)
      .config("spark.ui.enabled", "false")

  /** The engine's session: GraftExtensions plus the baseline configs.
    *
    * It sizes Spark's class cache for generated code
    * (`spark.sql.codegen.cache.maxEntries`, a static conf Spark reads once
    * per JVM, at the first code generation) at 4096 entries, not Spark's
    * 100. The 20 headline keys, collected once and counted, compile about
    * 340 classes at local[2] on sf0.1 (`CodegenMetrics`), so at 100
    * entries every later count pass evicted and recompiled about 144 of
    * them, and a key's latency depended on whether its classes had
    * survived since it last ran. At 4096, over ten times that working set,
    * a second pass compiles none (CodegenCacheSpec). It is a
    * constant, not a knob: the working set is a property of the engine's
    * plans, and with `HoistFilterLiterals` keeping per-batch constants
    * out of the source a long migration adds no classes per batch, so a
    * larger cache holds no dead ones. */
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // CBO on from session start (round-8: was a CboOps registration-time
      // side effect, which made plan behavior order-dependent). Costing
      // only activates on relations WITH catalog stats — i.e. the
      // ANALYZEd graft_cbo_* tables — so path-based reads are unaffected.
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // Bucketed-layout co-location (round-10): multi-key joins whose keys
      // INCLUDE the bucket key may reuse the bucket partitioning instead of
      // re-shuffling both sides on the full key set (q5's orderkey ⋈
      // (orderkey, nationkey) shape) — correctness-neutral planner trade.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // One file per bucket by construction (Tables.materializeBuckets
      // aligns write tasks with bucket ids), so the per-bucket SORTED BY
      // metadata is trustworthy and SMJs over bucketed tables skip their
      // sorts; Spark still re-checks the one-file-per-bucket invariant.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // RocksDB state store as the SESSION DEFAULT (round-12, VERDICT r11
      // item 6): at 100 TB event streams the state store choice is
      // load-bearing — the default HDFS-backed provider keeps every
      // version of every key's state in executor HEAP, so large
      // sessionization/dedup state is an OOM waiting to happen; RocksDB
      // spills to local disk with bounded memtables and incremental
      // checkpoint uploads. Measured: SCALE.md §streaming (1 M and 10 M
      // event rungs); StreamingSpec runs green under this provider.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
}

object Views {
  /** Register all ten corpus tables as temp views named after the tables. */
  def register(spark: SparkSession, dir: String): Unit =
    Tables.schemas.keys.foreach { name =>
      Tables.load(spark, dir, name).createOrReplaceTempView(name)
    }
}
