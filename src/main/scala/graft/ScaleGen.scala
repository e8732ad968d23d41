package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-proof data generator: replicates an SF directory `factor` times
  * with every key column shifted by a per-replica constant, preserving all
  * referential relationships (a replica is a disjoint, internally
  * consistent copy of the original universe). Non-key columns (names,
  * text, dates, amounts) are left byte-identical, so replicated documents
  * form planted exact-duplicate cliques — useful extra signal for the
  * dedup family at scale.
  *
  * Usage: ScaleGen <srcDir> <outDir> <factor>
  *        (events.ts is written as timestamp[us] — the driver's layout
  *        since 2026-08-13 — so both the DuckDB oracle and the Spark side
  *        read the output directly; tools/scale_fix_ts.py is only needed
  *        for pre-regeneration ns corpora)
  *
  * The shift constant is PER COLUMN TYPE (round-5 change, unlocking
  * factor 100 for the 100× validation slice): long key columns shift by
  * 1e8 (exceeds every long key in the shipped corpora; 100×1e8 = 1e10 is
  * well inside Long), int key columns (the nation/region key families,
  * values < 25) shift by 1e6 (100×1e6 + 24 is well inside Int). Shifts
  * are consistent per replica across tables, so every join family stays
  * referentially intact.
  */
object ScaleGen {
  private val Shift = 100000000L
  private val IntShift = 1000000L

  /** Key columns per table — every column that participates in a join or
    * identifies a row. Everything else is carried through unchanged. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def replicate(df: DataFrame, keys: Seq[String], factor: Int): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    (0 until factor).map { i =>
      keys.foldLeft(df) { (d, k) =>
        val shift =
          if (types(k) == org.apache.spark.sql.types.IntegerType) IntShift
          else Shift
        d.withColumn(k, (col(k) + lit(i * shift)).cast(types(k)))
      }
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorStr) = args.take(3)
    val factor = factorStr.toInt
    // Enforce the type-range safety bound (round-5 ADVICE fix, then
    // widened by per-type shifts): int key columns shift by IntShift, so
    // factor × IntShift must stay inside Int — silently wrapped negative
    // keys were the failure mode this replaces with a loud error.
    require(factor >= 1 && factor * IntShift <= Int.MaxValue - IntShift,
      s"factor too large for int32 key shifts, got $factor")
    val spark = GraftSession.local(32)
      .appName("graft-scalegen")
      // Write TimestampType as INT64 timestamp[us] (not INT96): matches
      // the driver-generated layout, so the replica round-trips through
      // both Tables.loadEvents' native path and the DuckDB oracle.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    try {
      keyCols.foreach { case (table, keys) =>
        // Tables.load normalizes events.ts to TimestampType (µs) whatever
        // the source layout; the write emits timestamp[us] (config above).
        val df = Tables.load(spark, src, table)
        // Single file per table (coalesced write, part file moved up):
        // the DuckDB oracle's read_parquet targets a file path, same
        // layout as the driver-generated SF dirs. Row groups are capped
        // at 8 MB — parquet splits at ROW-GROUP granularity, so a single
        // coalesced file with one giant row group would serialize every
        // scan onto one task no matter what maxPartitionBytes says (the
        // round-4 10× sweep measured fn_try at 59 s single-threaded from
        // exactly this).
        val tmp = s"$out/_tmp_$table"
        replicate(df, keys, factor)
          .coalesce(1).write.mode("overwrite")
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(s"$out/$table.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        new java.io.File(tmp).listFiles().foreach(_.delete())
        new java.io.File(tmp).delete()
        println(s"[scalegen] $table x$factor done")
      }
    } finally spark.stop()
  }
}
