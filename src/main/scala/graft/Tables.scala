package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas + loaders for the ten test-corpus tables.
  *
  * Policy (SURVEY §1.3): every source gets an explicit `StructType`; schema
  * inference is never used inside declared queries — the DuckDB-oracle
  * hash-compare punishes any drift. Schemas match FIXTURES.md (introspected
  * from the driver-generated parquet).
  *
  * Scale note: at 100 TB these reads become multi-thousand-file scans; the
  * explicit schema also skips the footer-sampling pass Spark otherwise runs
  * on the driver, which matters when a table has 100k+ files.
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType, nullable = false),
    StructField("r_name", StringType, nullable = false)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType, nullable = false),
    StructField("n_name", StringType, nullable = false),
    StructField("n_regionkey", IntegerType, nullable = false)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType, nullable = false),
    StructField("c_nationkey", IntegerType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType, nullable = false),
    StructField("s_name", StringType, nullable = false),
    StructField("s_nationkey", IntegerType, nullable = false),
    StructField("s_acctbal", DoubleType, nullable = false)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType, nullable = false),
    StructField("p_name", StringType, nullable = false),
    StructField("p_brand", StringType, nullable = false),
    StructField("p_type", StringType, nullable = false),
    StructField("p_size", IntegerType, nullable = false),
    StructField("p_retailprice", DoubleType, nullable = false)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampType, nullable = false)))

  /** Legacy physical schema of events.parquet: `ts` as INT64 nanoseconds
    * (either plain int64 or timestamp[ns], which Spark's parquet reader
    * does not map to TimestampType) — read as Long and converted (floor
    * ns→µs) in [[loadEvents]]. The driver regenerated the corpus on
    * 2026-08-13 with `timestamp[us]`, which Spark maps natively; the
    * loader sniffs the footer and picks the right path. */
  val eventsRaw: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Physical-layout sniff for an events parquet path: the ts type Spark
    * INFERS from the footer. The driver layout since 2026-08-13 is
    * timestamp[us] without timezone → TimestampNTZType (pandas writes
    * isAdjustedToUTC=false); a tz-adjusted µs layout → TimestampType; the
    * two legacy nanosecond layouts — plain INT64, and TIMESTAMP(NANOS),
    * which Spark's footer converter rejects (hence the catch) — → LongType.
    * One driver-side footer read per distinct path, cached: at 100 TB this
    * is one footer, not a scan, and it guards against the unit-confusion
    * class of bug (a silent testdata regeneration flips the sniff, not the
    * answers). */
  private val tsLayout =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  def eventsTsType(spark: SparkSession, path: String): DataType =
    tsLayout.computeIfAbsent(path, _ =>
      try spark.read.parquet(path).schema
        .find(_.name == "ts").map(_.dataType).getOrElse(LongType)
      catch { case _: Exception => LongType })

  def eventsTsIsTimestamp(spark: SparkSession, path: String): Boolean =
    eventsTsType(spark, path) match {
      case TimestampType | TimestampNTZType => true
      case _ => false
    }

  /** The events schema with `ts` swapped to the sniffed physical type. */
  def eventsReadSchema(ts: DataType): StructType =
    StructType(events.map {
      case f if f.name == "ts" => f.copy(dataType = ts)
      case f => f
    })

  /** Load events from a parquet file or directory, normalizing `ts` to
    * TimestampType (µs) regardless of the physical layout. NTZ→LTZ cast
    * is the identity on the stored micros because every Graft session
    * pins spark.sql.session.timeZone=UTC — the same naive-UTC reading
    * DuckDB's oracle applies. The legacy ns → µs floor division matches
    * DuckDB's ns-parquet truncation, so raw ts values hash-compare equal
    * across engines on any layout. */
  def loadEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    eventsTsType(spark, path) match {
      case t @ (TimestampType | TimestampNTZType) =>
        spark.read.schema(eventsReadSchema(t)).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
      case _ =>
        spark.read.schema(eventsRaw).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }
  }

  /** Load one table with its explicit schema from `dir/<name>.parquet`,
    * preferring a materialized bucketed copy when one is present and
    * fresh (see [[bucketedPath]]) — the layout-aware read a warehouse
    * catalog performs. Identical rows either way; only the physical plan
    * changes (bucketed scans carry HashPartitioning + per-bucket sort, so
    * orderkey joins skip both exchanges AND sorts — measured 2.27 → 1.28 s
    * at the 60 M-row tier, SCALE.md §bucketed co-location). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/events.parquet")
    else loadBucketed(spark, dir, name).getOrElse(
      spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet"))

  // ------------------------------------------------------------------
  // Bucketed layout (round-10, VERDICT r9 item 3): orders/lineitem are the
  // repeated-join fact tables; a pay-once bucketed+sorted copy on the
  // orderkey removes the per-query shuffle every fact⋈fact join otherwise
  // pays. At 100 TB this IS the warehouse layout for hot join keys —
  // here it is an opt-in materialization (graft.LayoutBuild) that the
  // loader discovers and trusts only while the source files' identity
  // fingerprint still matches (a driver-side testdata regeneration
  // invalidates the copy instead of silently serving stale rows).
  // ------------------------------------------------------------------

  /** Join key per bucketable table. */
  val bucketKeys: Map[String, String] =
    Map("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  /** Ceiling for the per-dir bucket count (one bucket ≈ one scan task on
    * the bucketed copies; 32 matches the local[32] harness). */
  val BucketCount = 32

  /** Bucket count for `dir`, sized to the LARGEST fact's source bytes
    * (~2 MB/bucket, the same split target the bench uses) and clamped to
    * [4, BucketCount]. Both facts share the count — co-located joins need
    * matching bucket counts. Sizing to volume, not a constant, is the
    * round-1 doctrine: at sf0.1 a 32-bucket layout planned 32 scan TASKS
    * per fact scan for <1 ms of work each — pure dispatch constant
    * (NOTES_r11 floor table); at sf1+ the clamp restores full-width
    * parallelism. At 100 TB the analogous knob is files-per-partition. */
  def bucketCountFor(dir: String): Int = {
    val bytes = bucketKeys.keys.map { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      if (f.isDirectory) f.listFiles().map(_.length).sum else f.length
    }.max
    math.max(4, math.min(BucketCount.toLong,
      (bytes + (2L << 20) - 1) / (2L << 20))).toInt
  }

  /** Conventional location of the bucketed copy for `dir`/`name` — under
    * the invoking user's home (owner-only), NOT a world-writable /tmp
    * path: a predictable shared-tmp location plus a computable fingerprint
    * would let any local user plant substitute data the loader then serves
    * (advice round-11). The source corpus dir itself is read-only here. */
  def bucketedPath(dir: String, name: String): String = {
    val root = s"${sys.props("user.home")}/.graft/layout"
    s"$root/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/$name"
  }

  /** Source-identity fingerprint: name+length+mtime of every data file
    * under the source parquet path, PLUS file count, total bytes, and an
    * md5 of each file's head+tail 1 KiB (the parquet header/footer — where
    * schema + row-group metadata live). The content sample defeats a
    * same-second regeneration with identical sizes (and any planted
    * substitute whose metadata differs) while still reading only ~2 KiB
    * per file — full content hashing would re-read TBs at warehouse scale
    * (fingerprint hardening, round-11). */
  private def fingerprint(src: String): String = {
    val f = new java.io.File(src)
    val files =
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      else Array(f)
    val entries = files.map { x =>
      val sample = sampleDigest(x)
      s"${x.getName}:${x.length}:${x.lastModified}:$sample"
    }
    s"n=${files.length};bytes=${files.map(_.length).sum};" +
      entries.mkString("|")
  }

  /** Head+tail 1 KiB digest. Deliberately NOT memoized by (path, length,
    * mtime): a same-size same-mtime content change is exactly the
    * staleness the sample exists to catch (BucketedLoaderSpec pins it),
    * and a memo on the identity triple would serve the stale digest for
    * the life of the JVM. The cost is ~2 KiB of page-cached read per
    * source file per load — bounded by the handful of corpus files. */
  private def sampleDigest(x: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raf = new java.io.RandomAccessFile(x, "r")
    try {
      val head = new Array[Byte](math.min(1024L, raf.length()).toInt)
      raf.readFully(head); md.update(head)
      if (raf.length() > 1024) {
        val tail =
          new Array[Byte](math.min(1024L, raf.length() - 1024).toInt)
        raf.seek(raf.length() - tail.length); raf.readFully(tail)
        md.update(tail)
      }
    } finally raf.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Marker content: the bucket count the copy was written with + the
    * LAYOUT VERSION + the source fingerprint. Pre-round-12 markers (bare
    * fingerprint) fail the compare and the copy regenerates under the
    * sized count. `rg=16m` (round-18, ADVICE r17): the 16 MB row-group
    * cap only applies when a copy is (re)materialized, so a marker that
    * encoded only count+fingerprint kept pre-r17 128 MB-row-group copies
    * "fresh" forever — and the capped-memory OOM the cap fixes would
    * silently persist on any environment with pre-existing copies. A
    * layout-version mismatch now regenerates, like the round-12 marker
    * hardening. */
  private def bucketedMarker(dir: String, name: String, buckets: Int): String =
    s"buckets=$buckets;rg=16m;${fingerprint(s"$dir/$name.parquet")}"

  /** The bucket count recorded in a copy's marker, when the copy is fresh
    * (fingerprint matches the current source files). */
  private def bucketedCount(dir: String, name: String): Option[Int] = {
    val marker = new java.io.File(s"${bucketedPath(dir, name)}/_graft_layout")
    if (!marker.isFile) None
    else {
      val recorded = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      "^buckets=(\\d+);".r.findFirstMatchIn(recorded)
        .map(_.group(1).toInt)
        .filter(n => recorded == bucketedMarker(dir, name, n))
    }
  }

  /** True when a bucketed copy exists and its recorded source fingerprint
    * matches the current source files. */
  private def bucketedValid(dir: String, name: String): Boolean =
    bucketedCount(dir, name).isDefined

  /** Return the bucketed copy as a catalog-backed DataFrame when present,
    * fresh, and not disabled via SPARK_GRAFT_BUCKETED=false. Registration
    * is an external-table DDL over the copy's files — Spark re-derives
    * bucket ids from the writer's file names, so the metadata round-trips
    * across sessions without a persistent metastore. The guard is the
    * session CATALOG itself (tableExists — one driver-side lookup per
    * load), not a JVM-wide map: identity-hash keys could collide across
    * GC'd sessions and silently skip the DDL (review round-10). */
  private def loadBucketed(spark: SparkSession, dir: String,
      name: String): Option[DataFrame] =
    bucketKeys.get(name)
      .filter(_ => sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true") != "false")
      .flatMap(key => bucketedCount(dir, name).map((key, _)))
      .map { case (key, buckets) =>
        // Table name carries the bucket count: a mid-JVM regeneration
        // under a different sizing must not be served through stale
        // CREATE TABLE IF NOT EXISTS metadata registered for the old one.
        val table =
          s"graft_b_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${name}_b$buckets"
        if (!spark.catalog.tableExists(table))
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS $table (${schemas(name).toDDL})
               |USING PARQUET
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
               |LOCATION '${bucketedPath(dir, name)}'""".stripMargin)
        spark.table(table)
      }

  /** Materialize the bucketed copies for `dir` (the pay-once ingest step;
    * graft.LayoutBuild is the CLI). repartition(32, key) aligns write
    * tasks with bucket ids (same murmur hash + modulus), so each bucket is
    * ONE file and the SORTED BY metadata stays usable — Spark ignores
    * per-bucket sort order when a bucket has multiple files. */
  def materializeBuckets(spark: SparkSession, dir: String): Unit = {
    // A materialization only runs when the source fingerprint changed (or
    // no copy existed) — the one signal the engine gets that `dir`'s
    // content may have been regenerated mid-JVM. Memoized dimension arms
    // and gate counts over that dir are stale the same way the layout copy
    // was; drop them so the next construction re-reads (advice round-12).
    Dims.clear()
    val buckets = bucketCountFor(dir)
    bucketKeys.foreach { case (name, key) =>
      val target = bucketedPath(dir, name)
      val src = s"$dir/$name.parquet"
      val tmpTable = s"graft_build_${name}_${System.nanoTime()}"
      spark.read.schema(schemas(name)).parquet(src)
        .repartition(buckets, org.apache.spark.sql.functions.col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        // Row groups capped at 16 MB (round-17, guide §6): a bucket is
        // ONE file read by ONE task, and the parquet reader buffers a
        // whole row group's column chunks on heap — default 128 MB
        // groups made every capped-memory scan of a replica-tier bucket
        // OOM in readNextRowGroup before any operator ran (the sf100
        // 128 MB/core rung). 16 MB bounds per-task scan memory while
        // keeping the one-file-per-bucket sorted layout; per-group
        // min/max on the sorted key only get finer.
        .option("parquet.block.size", (16 * 1024 * 1024).toString)
        .option("path", target)
        .saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // files stay (external)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$target/_graft_layout"),
        bucketedMarker(dir, name, buckets).getBytes("UTF-8"))
    }
  }

  // ------------------------------------------------------------------
  // custkey co-location family (round 15, VERDICT r14 item 5): q5's one
  // removable sf100 exchange is the customer⋈orders custkey shuffle —
  // orders' PRIMARY bucketing (o_orderkey) cannot serve it, and a join
  // key can only be co-located by a layout bucketed ON that key. Second
  // pay-once family: customer + orders bucketed on the custkey, same
  // machinery (fingerprint freshness, catalog DDL registration, bucket
  // count shared with the primary family so sizing stays volume-driven).
  // At 100 TB this is the standard warehouse trade: one extra clustered
  // copy of the two tables buys every custkey join an exchange-free plan.
  // ------------------------------------------------------------------

  /** Join key per table in the custkey family. */
  val custBucketKeys: Map[String, String] =
    Map("customer" -> "c_custkey", "orders" -> "o_custkey")

  /** Location of the custkey-family copy (sibling of the primary copy,
    * `-bycust` suffixed — same owner-only root). */
  def bucketedCustPath(dir: String, name: String): String =
    s"${bucketedPath(dir, name)}-bycust"

  private def bucketedCustMarker(dir: String, name: String,
      buckets: Int): String =
    // rg=16m layout-version token: same stale-layout regeneration
    // rationale as [[bucketedMarker]] (round-18, ADVICE r17).
    s"buckets=$buckets;rg=16m;fam=bycust;${fingerprint(s"$dir/$name.parquet")}"

  private def bucketedCustCount(dir: String, name: String): Option[Int] = {
    val marker =
      new java.io.File(s"${bucketedCustPath(dir, name)}/_graft_layout")
    if (!marker.isFile) None
    else {
      val recorded = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      "^buckets=(\\d+);".r.findFirstMatchIn(recorded)
        .map(_.group(1).toInt)
        .filter(n => recorded == bucketedCustMarker(dir, name, n))
    }
  }

  /** The custkey-family copy as a catalog-backed DataFrame when present
    * and fresh (None → caller falls back to [[load]]). Distinct catalog
    * names from the primary family — the two copies of `orders` must
    * never serve through each other's bucket metadata. */
  def loadBucketedByCust(spark: SparkSession, dir: String,
      name: String): Option[DataFrame] =
    custBucketKeys.get(name)
      .filter(_ => sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true") != "false")
      .flatMap(key => bucketedCustCount(dir, name).map((key, _)))
      .map { case (key, buckets) =>
        val table =
          s"graft_bc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${name}_b$buckets"
        if (!spark.catalog.tableExists(table))
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS $table (${schemas(name).toDDL})
               |USING PARQUET
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
               |LOCATION '${bucketedCustPath(dir, name)}'""".stripMargin)
        spark.table(table)
      }

  /** Custkey-family load with fall-through to the standard [[load]] —
    * what a custkey-join query calls for its customer/orders inputs. */
  def loadByCust(spark: SparkSession, dir: String, name: String): DataFrame =
    loadBucketedByCust(spark, dir, name)
      .getOrElse(load(spark, dir, name))

  /** Materialize the custkey-family copies for `dir` (pay-once; the
    * LayoutBuild CLI's `--family=custkey|all` arm). */
  def materializeCustBuckets(spark: SparkSession, dir: String): Unit = {
    Dims.clear()
    val buckets = bucketCountFor(dir)
    custBucketKeys.foreach { case (name, key) =>
      val target = bucketedCustPath(dir, name)
      val src = s"$dir/$name.parquet"
      val tmpTable = s"graft_build_bc_${name}_${System.nanoTime()}"
      spark.read.schema(schemas(name)).parquet(src)
        .repartition(buckets, org.apache.spark.sql.functions.col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        // 16 MB row groups — same capped-memory-scan rationale as
        // materializeBuckets above.
        .option("parquet.block.size", (16 * 1024 * 1024).toString)
        .option("path", target)
        .saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // files stay (external)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$target/_graft_layout"),
        bucketedCustMarker(dir, name, buckets).getBytes("UTF-8"))
    }
  }

  // ------------------------------------------------------------------
  // Date-partitioned events layout (round-11, VERDICT r10 item 6): the
  // stream-shaped fact re-laid out as the standard warehouse layout —
  // hive-partitioned by (event_date, event_type) — behind the same
  // source-fingerprint freshness guard as the bucketed copies. At 100 TB
  // this IS how an events fact lands (daily ingest partitions); here the
  // partition-pruned keys (static date range, dynamic type-dim DPP) read
  // a REAL partitioned source instead of a per-query /tmp fixture.
  // ------------------------------------------------------------------

  /** Conventional location of the partitioned events copy for `dir`. */
  def partitionedEventsPath(dir: String): String = {
    val root = s"${sys.props("user.home")}/.graft/layout"
    s"$root/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/events_bydate"
  }

  private def partitionedEventsValid(dir: String): Boolean = {
    val marker =
      new java.io.File(s"${partitionedEventsPath(dir)}/_graft_layout")
    marker.isFile && {
      val recorded = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      recorded == fingerprint(s"$dir/events.parquet")
    }
  }

  /** Pay-once re-layout of events as (event_date, event_type) hive
    * partitions, one file per leaf (repartition by the partition columns
    * aligns write tasks with directories). */
  def materializePartitionedEvents(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, to_date}
    Dims.clear() // same staleness signal as materializeBuckets (advice r12)
    val target = partitionedEventsPath(dir)
    loadEvents(spark, s"$dir/events.parquet")
      .withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"), col("event_type"))
      .write.mode("overwrite")
      .partitionBy("event_date", "event_type")
      .parquet(target)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$target/_graft_layout"),
      fingerprint(s"$dir/events.parquet").getBytes("UTF-8"))
  }

  /** The partitioned copy when present and fresh (None → caller falls
    * back or materializes). Carries the extra `event_date` partition
    * column; row content is otherwise exactly [[loadEvents]]. */
  def loadEventsPartitioned(spark: SparkSession, dir: String)
      : Option[DataFrame] =
    if (sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true") != "false" &&
        partitionedEventsValid(dir))
      Some(spark.read.parquet(partitionedEventsPath(dir))
        .select("event_id", "ts", "user_id", "event_type", "value",
          "props", "event_date"))
    else None

  /** Per-dir materialization locks: two concurrent first-touch
    * constructions (parallel test suites, a multi-threaded harness) must
    * not race two mode("overwrite") writes into one target — the second
    * overwrite deletes the first writer's in-flight files (code review
    * round-11; the old per-query fixture had a once-per-JVM claim set). */
  private val layoutLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serve the partitioned copy, materializing it first if absent/stale
    * (the scan_csv_json bounded-fixture convention — events is the
    * smallest fact; the declared pruning keys call this). */
  def ensurePartitionedEvents(spark: SparkSession, dir: String): DataFrame = {
    if (sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true") == "false")
      // Layout serving disabled — derive the partition column on the fly
      // (no pruning, same rows).
      return loadEvents(spark, s"$dir/events.parquet").withColumn(
        "event_date", org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts")))
    layoutLocks.computeIfAbsent(partitionedEventsPath(dir), _ => new Object)
      .synchronized {
        // Validity evaluated ONCE per call (it reads+digests source
        // files); re-checked under the lock so a concurrent materializer
        // that just finished is observed instead of overwritten.
        if (!partitionedEventsValid(dir))
          materializePartitionedEvents(spark, dir)
      }
    loadEventsPartitioned(spark, dir).getOrElse(sys.error(
      s"partitioned events copy invalid immediately after materialization" +
        s" for $dir"))
  }
}

/** CLI: materialize the bucketed fact-table layout for one or more sf
  * dirs — `graft.LayoutBuild <dir> [<dir>...]`. */
object LayoutBuild {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LayoutBuild <sfDir> [sfDir...]")
    val spark = GraftSession.local(32)
      .config("spark.sql.warehouse.dir", "/tmp/graft_layout_build_wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fam = args.collectFirst {
      case a if a.startsWith("--family=") => a.stripPrefix("--family=")
    }.getOrElse("all")
    require(Set("all", "orderkey", "custkey")(fam),
      s"unknown --family=$fam (valid: all, orderkey, custkey)")
    args.filterNot(_.startsWith("--")).foreach { dir =>
      val t0 = System.nanoTime()
      if (fam == "all" || fam == "orderkey")
        Tables.materializeBuckets(spark, dir)
      if (fam == "all" || fam == "custkey")
        Tables.materializeCustBuckets(spark, dir)
      println(f"[layout-build] $dir ($fam) done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
