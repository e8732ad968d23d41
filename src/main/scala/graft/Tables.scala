package graft

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, to_date}
import org.apache.spark.sql.types._

/** Explicit schemas and loaders for the ten corpus tables.
  *
  * Every source is read with an explicit `StructType` (SURVEY §1.3), never
  * an inferred one: the DuckDB oracle's hash-compare punishes any type
  * drift, and an explicit schema skips the footer-sampling pass Spark
  * otherwise runs on the driver, which matters for tables of 100k+ files.
  * Schemas match FIXTURES.md.
  */
object Tables {

  /** Every corpus column is non-null. */
  private def notNull(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  val region: StructType = notNull("r_regionkey" -> IntegerType,
    "r_name" -> StringType)

  val nation: StructType = notNull("n_nationkey" -> IntegerType,
    "n_name" -> StringType, "n_regionkey" -> IntegerType)

  val customer: StructType = notNull("c_custkey" -> LongType,
    "c_name" -> StringType, "c_nationkey" -> IntegerType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)

  val supplier: StructType = notNull("s_suppkey" -> LongType,
    "s_name" -> StringType, "s_nationkey" -> IntegerType,
    "s_acctbal" -> DoubleType)

  val part: StructType = notNull("p_partkey" -> LongType,
    "p_name" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
    "p_size" -> IntegerType, "p_retailprice" -> DoubleType)

  val orders: StructType = notNull("o_orderkey" -> LongType,
    "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
    "o_orderpriority" -> StringType)

  val lineitem: StructType = notNull("l_orderkey" -> LongType,
    "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
    "l_tax" -> DoubleType, "l_returnflag" -> StringType,
    "l_linestatus" -> StringType, "l_shipdate" -> TimestampType)

  /** Legacy physical schema of events.parquet: `ts` as INT64 nanoseconds
    * (plain int64, or timestamp[ns], which Spark's Parquet reader does not
    * map to TimestampType), read as Long and floored to µs by
    * [[loadEvents]]. The current corpus stores `timestamp[us]`. */
  val eventsRaw: StructType = notNull("event_id" -> LongType,
    "ts" -> LongType, "user_id" -> LongType, "event_type" -> StringType,
    "value" -> DoubleType, "props" -> StringType)

  val events: StructType = notNull("event_id" -> LongType,
    "ts" -> TimestampType, "user_id" -> LongType, "event_type" -> StringType,
    "value" -> DoubleType, "props" -> StringType)

  val documents: StructType = notNull("doc_id" -> LongType,
    "text" -> StringType, "lang" -> StringType, "source" -> StringType,
    "n_chars" -> LongType)

  val embeddings: StructType = notNull("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType, containsNull = false),
    "label" -> IntegerType)

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** The `ts` type Spark infers from an events file's footer, one footer
    * read per path: TimestampNTZType for the current corpus (pandas
    * writes isAdjustedToUTC=false), TimestampType for a tz-adjusted µs
    * layout, and LongType for both nanosecond layouts (Spark's footer
    * converter rejects TIMESTAMP(NANOS), hence the catch). A corpus
    * regenerated under another unit flips the sniff, not the answers. */
  private val tsLayout =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  def eventsTsType(spark: SparkSession, path: String): DataType =
    tsLayout.computeIfAbsent(path, _ =>
      try spark.read.parquet(path).schema
        .find(_.name == "ts").map(_.dataType).getOrElse(LongType)
      catch { case _: Exception => LongType })

  /** The events schema with `ts` swapped to the sniffed physical type. */
  def eventsReadSchema(ts: DataType): StructType =
    StructType(events.map {
      case f if f.name == "ts" => f.copy(dataType = ts)
      case f => f
    })

  /** Load events from a parquet file or directory with `ts` as
    * TimestampType (µs) whatever the physical layout. The NTZ → LTZ cast
    * keeps the stored micros because every session pins the UTC time
    * zone, as DuckDB's oracle reads it; the ns → µs floor division matches
    * DuckDB's truncation of ns Parquet. */
  def loadEvents(spark: SparkSession, path: String): DataFrame =
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

  /** Load one table from `dir/<name>.parquet`, or from its fresh orderkey
    * copy when there is one. Both return the same rows; over the copies an
    * orderkey join needs neither an exchange nor a sort (2.27 → 1.28 s at
    * 60 M rows, SCALE.md §bucketed co-location). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/events.parquet")
    else serve(spark, dir, "orderkey", name).getOrElse(
      spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet"))

  /** [[load]] through the custkey copy of `customer` or `orders`, which
    * serves a custkey join without an exchange. */
  def loadByCust(spark: SparkSession, dir: String, name: String): DataFrame =
    serve(spark, dir, "custkey", name).getOrElse(load(spark, dir, name))

  /** Events with an `event_date` column, read from the date-partitioned
    * copy, which is materialized first when it is missing or stale. */
  def ensurePartitionedEvents(spark: SparkSession, dir: String): DataFrame =
    if (!serveCopies) withEventDate(loadEvents(spark, s"$dir/events.parquet"))
    else {
      val l = layouts.find(_.family == "bydate").get
      locked(path(l, dir)) {
        if (fresh(l, dir).isEmpty) rebuild(spark, dir, Seq(l))
      }
      serve(spark, dir, l).getOrElse(sys.error(
        s"events copy of $dir is stale right after materialization"))
    }

  private def withEventDate(df: DataFrame): DataFrame =
    df.withColumn("event_date", to_date(col("ts")))

  private sealed trait Clustering
  /** Hash buckets on `key`, each sorted by it, read through a catalog
    * table named `catalog` + dir + table + bucket count. */
  private final case class Buckets(key: String, catalog: String) extends Clustering
  /** Hive partitions on `cols`. */
  private final case class Partitions(cols: String*) extends Clustering

  /** A layout copy: a pay-once re-layout of one source table, kept in
    * `leaf` under [[layoutRoot]] and served instead of the source while
    * it is fresh.
    *
    *  - The root sits under the user's home, which only its owner can
    *    write. In a shared /tmp, a predictable path plus a computable
    *    fingerprint would let another user plant rows the loader serves.
    *  - Freshness is the `_graft_layout` marker: the bucket count, the
    *    row-group cap (`rg=16m;`) and `tag` the copy was written with, then
    *    the source [[fingerprint]]. A copy is fresh while its marker equals
    *    the one its description and source give now, so a regenerated
    *    source or a changed layout rewrites the copy instead of serving it.
    *  - Each bucket is one file, because the write repartitions on the
    *    key first: Spark ignores a bucket's sort order when it spans
    *    several files.
    *  - Row groups are capped at `rowGroupMb`: one task reads a whole
    *    bucket, and the Parquet reader holds a row group's column chunks
    *    on the heap. Default 128 MB groups ran out of heap before any
    *    operator ran at 128 MB per core (sf100, SCALE.md).
    */
  private final case class Layout(family: String, table: String,
      leaf: String, clustering: Clustering, rowGroupMb: Option[Int],
      tag: String) {
    def bucketed: Boolean = clustering.isInstanceOf[Buckets]
  }

  /** orderkey: the repeated fact⋈fact joins. custkey: q5's customer⋈orders
    * join, which the orderkey copy of `orders` cannot serve. bydate: the
    * date- and type-pruned event keys; materialized on first use. */
  private val layouts = Seq(
    Layout("orderkey", "orders", "orders",
      Buckets("o_orderkey", "graft_b_"), Some(16), ""),
    Layout("orderkey", "lineitem", "lineitem",
      Buckets("l_orderkey", "graft_b_"), Some(16), ""),
    Layout("custkey", "customer", "customer-bycust",
      Buckets("c_custkey", "graft_bc_"), Some(16), "fam=bycust;"),
    Layout("custkey", "orders", "orders-bycust",
      Buckets("o_custkey", "graft_bc_"), Some(16), "fam=bycust;"),
    Layout("bydate", "events", "events_bydate",
      Partitions("event_date", "event_type"), None, ""))

  /** `SPARK_GRAFT_BUCKETED=false` serves the plain tables, never a copy. */
  private val serveCopies =
    sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true") != "false"

  /** The families `graft.LayoutBuild` materializes. */
  val bucketFamilies: Seq[String] = layouts.filter(_.bucketed).map(_.family).distinct

  /** Join key per table of the orderkey family. */
  val bucketKeys: Map[String, String] =
    layouts.collect { case Layout("orderkey", t, _, Buckets(k, _), _, _) => t -> k }.toMap

  /** Bucket count for `dir`: one per ~2 MB of the larger orderkey table
    * (the bench's split target), clamped to [4, 32]. Every family shares
    * it, as co-located joins need equal counts. A constant 32 planned 32
    * scan tasks of under 1 ms each at sf0.1 (NOTES_r11). */
  def bucketCountFor(dir: String): Int = {
    val bytes = bucketKeys.keys.map { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      if (f.isDirectory) f.listFiles().map(_.length).sum else f.length
    }.max
    math.max(4, math.min(32L, (bytes + (2L << 20) - 1) / (2L << 20))).toInt
  }

  private def slug(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** The directory that holds every layout copy of `dir`. */
  def layoutRoot(dir: String): String =
    s"${sys.props("user.home")}/.graft/layout/${slug(dir)}"

  /** The orderkey copy of `dir`/`name`. */
  def bucketedPath(dir: String, name: String): String =
    s"${layoutRoot(dir)}/$name"

  private def path(l: Layout, dir: String): String = s"${layoutRoot(dir)}/${l.leaf}"

  /** Source identity: file count, total bytes, and each data file's name,
    * length, mtime and an md5 of its head and tail 1 KiB, where Parquet
    * keeps its header and footer. The sample catches a regeneration of the
    * same sizes within the same second while reading ~2 KiB per file; a
    * full content hash would re-read terabytes at warehouse scale. It is
    * not memoized on (path, length, mtime), which would serve a stale
    * digest for exactly the change the sample exists to catch. */
  private def fingerprint(src: String): String = {
    val f = new java.io.File(src)
    val files =
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      else Array(f)
    val entries = files.map { x =>
      s"${x.getName}:${x.length}:${x.lastModified}:${sampleDigest(x)}"
    }
    s"n=${files.length};bytes=${files.map(_.length).sum};" +
      entries.mkString("|")
  }

  private def sampleDigest(x: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raf = new java.io.RandomAccessFile(x, "r")
    try {
      val len = raf.length()
      val head = new Array[Byte](math.min(1024L, len).toInt)
      val tail = new Array[Byte](math.max(0L, math.min(1024L, len - 1024)).toInt)
      raf.readFully(head); raf.seek(len - tail.length); raf.readFully(tail)
      md.update(head); md.update(tail)
    } finally raf.close()
    md.digest().map("%02x".format(_)).mkString
  }

  private def marker(l: Layout, dir: String, buckets: Int): String =
    (if (l.bucketed) s"buckets=$buckets;" else "") +
      l.rowGroupMb.fold("")(mb => s"rg=${mb}m;") + l.tag +
      fingerprint(s"$dir/${l.table}.parquet")

  /** The bucket count of `l`'s copy (0 when partitioned) while it is
    * fresh. */
  private def fresh(l: Layout, dir: String): Option[Int] = {
    val file = new java.io.File(s"${path(l, dir)}/_graft_layout")
    if (!file.isFile) None
    else {
      val recorded = new String(
        java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      val buckets = "^buckets=(\\d+);".r.findFirstMatchIn(recorded)
      (if (l.bucketed) buckets.map(_.group(1).toInt) else Some(0))
        .filter(n => recorded == marker(l, dir, n))
    }
  }

  /** True when the orderkey copies are served but one is missing or
    * stale. */
  def bucketsStale(dir: String): Boolean =
    serveCopies && layouts.exists(l => l.family == "orderkey" && fresh(l, dir).isEmpty)

  private def serve(spark: SparkSession, dir: String, family: String,
      name: String): Option[DataFrame] =
    layouts.find(l => l.family == family && l.table == name)
      .flatMap(serve(spark, dir, _))

  /** `l`'s copy while it is served and fresh. A bucketed copy is read as
    * an external catalog table over its files: Spark re-derives the bucket
    * ids from the file names, so no metastore is needed. The catalog is
    * asked whether the table exists on each load, so a new session
    * registers it again. */
  private def serve(spark: SparkSession, dir: String,
      l: Layout): Option[DataFrame] =
    if (!serveCopies) None
    else fresh(l, dir).map { n =>
      l.clustering match {
        case Buckets(key, catalog) =>
          // The count is in the name: a copy rewritten under another count
          // is never read through the table registered for the old one.
          val table = s"$catalog${slug(dir)}_${l.table}_b$n"
          if (!spark.catalog.tableExists(table))
            spark.sql(
              s"""CREATE TABLE IF NOT EXISTS $table (${schemas(l.table).toDDL})
                 |USING PARQUET
                 |CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS
                 |LOCATION '${path(l, dir)}'""".stripMargin)
          spark.table(table)
        case Partitions(_*) =>
          val cols = schemas(l.table).fieldNames :+ "event_date"
          spark.read.schema(schemas(l.table).add("event_date", DateType))
            .parquet(path(l, dir)).select(cols.map(col).toIndexedSeq: _*)
      }
    }

  /** Materialize the orderkey copies of `dir`. */
  def materializeBuckets(spark: SparkSession, dir: String): Unit =
    materialize(spark, dir, "orderkey")

  /** Materialize every copy of `families` for `dir`. */
  def materialize(spark: SparkSession, dir: String, families: String*): Unit =
    rebuild(spark, dir, layouts.filter(l => families.contains(l.family)))

  /** Two first uses at once (parallel suites, a threaded harness) must not
    * race two overwrites into one target: the second would delete the
    * first writer's files. */
  private val layoutLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def locked[T](target: String)(body: => T): T =
    layoutLocks.computeIfAbsent(target, _ => new Object).synchronized(body)

  /** Write each copy of `ls` afresh, then its marker. A rebuild means the
    * source may have changed, so the dimension arms memoized over it are
    * dropped as well. */
  private def rebuild(spark: SparkSession, dir: String,
      ls: Seq[Layout]): Unit = {
    Dims.clear()
    val buckets = bucketCountFor(dir)
    ls.foreach { l =>
      val target = path(l, dir)
      val src = s"$dir/${l.table}.parquet"
      def capped(w: DataFrameWriter[Row]) = l.rowGroupMb.fold(w)(mb =>
        w.option("parquet.block.size", (mb << 20).toString)).mode("overwrite")
      locked(target) {
        l.clustering match {
          case Buckets(key, _) =>
            val tmp = s"graft_build_${System.nanoTime()}"
            capped(spark.read.schema(schemas(l.table)).parquet(src)
              .repartition(buckets, col(key))
              .write.bucketBy(buckets, key).sortBy(key))
              .option("path", target).saveAsTable(tmp)
            spark.sql(s"DROP TABLE IF EXISTS $tmp") // external: files stay
          case Partitions(cols @ _*) =>
            capped(withEventDate(loadEvents(spark, src))
              .repartition(cols.map(col): _*)
              .write.partitionBy(cols: _*))
              .parquet(target)
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$target/_graft_layout"),
          marker(l, dir, buckets).getBytes("UTF-8"))
      }
    }
  }
}

/** CLI: materialize the bucketed layout copies of one or more sf dirs —
  * `graft.LayoutBuild [--family=all|orderkey|custkey] <dir> [<dir>...]`. */
object LayoutBuild {
  def main(args: Array[String]): Unit = {
    val valid = "all" +: Tables.bucketFamilies
    val fam = args.collectFirst {
      case a if a.startsWith("--family=") => a.stripPrefix("--family=")
    }.getOrElse("all")
    val dirs = args.filterNot(_.startsWith("--"))
    require(dirs.nonEmpty && valid.contains(fam),
      s"usage: LayoutBuild [--family=${valid.mkString("|")}] <sfDir> [sfDir...]")
    val spark = GraftSession.local(32)
      .config("spark.sql.warehouse.dir", "/tmp/graft_layout_build_wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach { dir =>
      val t0 = System.nanoTime()
      Tables.materialize(spark, dir,
        Tables.bucketFamilies.filter(f => fam == "all" || f == fam): _*)
      println(f"[layout-build] $dir ($fam) done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
