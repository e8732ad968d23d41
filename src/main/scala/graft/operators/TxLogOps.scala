package graft.operators

import graft.{Parity, Q, Tables}
import graft.sources.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Parity._

/** Declared operators over the GraftLog ACID table format (round-10,
  * VERDICT "missing" #4 — the transaction log TableOps' MERGE/SCD2/CDC
  * operators were missing underneath them). Each key builds a REAL logged
  * table from the corpus (create → append batches → mutate → snapshot) in
  * /tmp scratch, then reads it back through the log; the final data is a
  * pure deterministic function of `orders`, so DuckDB can oracle the whole
  * lifecycle against the raw parquet. TxLogSpec covers the
  * protocol-internal behaviors no SQL twin can see (snapshot isolation,
  * conflict detection, stats skipping, checkpoint replay, vacuum). */
object TxLogOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Fresh UNIQUE scratch table dir per construction: a fixed shared path
    * would let two concurrent constructions of the same key (e.g. Verify
    * and a test JVM over the same corpus) delete each other's live table
    * mid-lifecycle (review round-10; the TxLog scale rung's UUID convention).
    * Stale siblings from earlier constructions are pruned best-effort
    * once they are old enough to be provably dead. */
  private def freshTable(dir: String, name: String): String = {
    val root = java.nio.file.Paths
      .get(s"/tmp/graft_txlog/${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    java.nio.file.Files.createDirectories(root)
    val cutoff = System.currentTimeMillis() - 2 * 3600 * 1000L
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"$name-") && f.lastModified < cutoff)
      .foreach { f =>
        java.nio.file.Files.walk(f.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    s"$root/$name-${java.util.UUID.randomUUID()}"
  }

  /** Table-format lifecycle 1 — MERGE through the log: two append batches,
    * then an upsert batch (updated rows for o_orderkey % 7 = 0, new rows
    * keyed +1e9 for % 31 = 0), read back via snapshot. The oracle replays
    * the same upsert as plain SQL over orders — a hash match proves
    * create/append/merge/snapshot end-to-end, including the stats-pruned
    * copy-on-write rewrite (only key-range-overlapping files rewrite). */
  val txlogMergeSnapshot = Q(
    "txlog_merge_snapshot",
    s"""WITH upd AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus,
       |         o_totalprice + 1000 AS o_totalprice, o_orderdate,
       |         'MERGED' AS o_orderpriority
       |  FROM orders WHERE o_orderkey % 7 = 0),
       |ins AS (
       |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
       |         'N' AS o_orderstatus, o_totalprice, o_orderdate,
       |         'NEW-INSERT' AS o_orderpriority
       |  FROM orders WHERE o_orderkey % 31 = 0),
       |merged AS (
       |  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
       |  UNION ALL SELECT * FROM upd
       |  UNION ALL SELECT * FROM ins)
       |SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM merged GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_merge")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    TxLog.append(s, table, orders.filter(col("o_orderkey") % 2 === 0))
    TxLog.append(s, table, orders.filter(col("o_orderkey") % 2 === 1))
    val source = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("o_orderpriority", lit("MERGED"))
      .unionByName(orders.filter(col("o_orderkey") % 31 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("o_orderpriority", lit("NEW-INSERT")))
    TxLog.merge(s, table, source, key = "o_orderkey")
    TxLog.snapshot(s, table)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Table-format lifecycle 2 — time travel: v1 appends the F orders, v2
    * appends the O orders, v3 copy-on-write deletes totalprice > 300000.
    * One output row per version, read via `snapshot(asOf)` AFTER all three
    * commits exist — proving historical versions stay exactly readable
    * under later mutations. Oracle: each version's state as plain SQL. */
  val txlogTimeTravel = Q(
    "txlog_time_travel",
    s"""SELECT 1 AS version, COUNT(*) AS n_rows,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_orderstatus = 'F'
       |UNION ALL
       |SELECT 2, COUNT(*), ${sqlDsum("o_totalprice")}
       |FROM orders WHERE o_orderstatus IN ('F', 'O')
       |UNION ALL
       |SELECT 3, COUNT(*), ${sqlDsum("o_totalprice")}
       |FROM orders WHERE o_orderstatus IN ('F', 'O')
       |  AND NOT o_totalprice > 300000
       |ORDER BY version""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_tt")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    TxLog.append(s, table, orders.filter(col("o_orderstatus") === "F")) // v1
    TxLog.append(s, table, orders.filter(col("o_orderstatus") === "O")) // v2
    TxLog.deleteWhere(s, table, col("o_totalprice") > 300000)           // v3
    (1 to 3).map { v =>
      TxLog.snapshot(s, table, asOf = Some(v.toLong))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** Table-format lifecycle 3 — CLUSTERED ingest + stats-pruned range
    * read: ONE append with `clusterBy = o_orderkey` range-clusters the
    * batch into four files with tight, near-disjoint min/max intervals
    * (the first-class form of the TxLog scale-rung result: merge write-amp
    * 19.5× → 1.8×), then a range read that must only OPEN the overlapping
    * files (TxLogSpec pins the open count; this oracle pins the answer).
    * The 100 TB point: a range lookup on the stats column costs a handful
    * of file opens, not a table scan — the log's min/max are the coarse
    * index, and clustered ingest is what makes them tight. */
  val txlogPrunedRead = Q(
    "txlog_pruned_read",
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderkey BETWEEN 100 AND 399
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_pruned")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    TxLog.append(s, table, orders,
      clusterBy = Some("o_orderkey"), targetFiles = 4)
    TxLog.snapshotRange(s, table, "100", "399")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Table-format lifecycle 4 — incremental change consumption: three
    * append batches (orders split by status F / O / P), then a change
    * read of (v1, v3] — exactly the O and P batches, tagged with their
    * commit versions. This is the tail-the-log shape an incremental
    * training-data pipeline runs nightly: process only documents ingested
    * since the last watermark, never rescan the corpus. */
  val txlogChanges = Q(
    "txlog_changes_read",
    s"""SELECT v AS _commit_version, o_orderstatus,
       |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
       |FROM (
       |  SELECT 2 AS v, * FROM orders WHERE o_orderstatus = 'O'
       |  UNION ALL
       |  SELECT 3 AS v, * FROM orders WHERE o_orderstatus = 'P')
       |GROUP BY v, o_orderstatus ORDER BY _commit_version""".stripMargin) {
    (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_changes")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    Seq("F", "O", "P").foreach(st =>
      TxLog.append(s, table, orders.filter(col("o_orderstatus") === st)))
    TxLog.tableChanges(s, table, fromExclusive = 1L, toInclusive = 3L)
      .groupBy("_commit_version", "o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("_commit_version")
  }

  /** Table-format lifecycle 5 — schema evolution, the full column
    * lifecycle (round-12 extends the r11 ADD with RENAME + time travel):
    * v1 appends the F orders under the base schema, v2 ADDs a nullable
    * o_band column (no rewrite), v3 appends the remaining orders WITH the
    * column populated, v4 RENAMEs o_band → price_band (pure metadata —
    * column-mapping ids keep every existing file readable with zero
    * rewrite). The declared output reads the table at BOTH schema
    * generations: phase 'pre-rename' time-travels to v3 (the o_band
    * schema), phase 'post-rename' reads latest (price_band serves the
    * SAME stored values through the mapping). Identical numbers in both
    * phases IS the rename contract, and the oracle replays both from
    * plain SQL. */
  val txlogEvolve = Q(
    "txlog_evolve",
    s"""WITH banded AS (
       |  SELECT CAST(NULL AS VARCHAR) AS band, o_totalprice
       |  FROM orders WHERE o_orderstatus = 'F'
       |  UNION ALL
       |  SELECT CASE WHEN o_totalprice >= 200000 THEN 'HI' ELSE 'LO' END,
       |         o_totalprice
       |  FROM orders WHERE o_orderstatus <> 'F'),
       |agg AS (
       |  SELECT COALESCE(band, '(pre-evolve)') AS band,
       |    COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
       |  FROM banded GROUP BY 1)
       |SELECT phase, band, n, sum_price
       |FROM (SELECT 'pre-rename' AS phase, * FROM agg
       |      UNION ALL
       |      SELECT 'post-rename' AS phase, * FROM agg)
       |ORDER BY phase DESC, band""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_evolve")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    TxLog.append(s, table, orders.filter(col("o_orderstatus") === "F")) // v1
    TxLog.addColumn(table, "o_band", "string")                          // v2
    TxLog.append(s, table, orders.filter(col("o_orderstatus") =!= "F")
      .withColumn("o_band",
        when(col("o_totalprice") >= 200000, "HI").otherwise("LO")))     // v3
    TxLog.renameColumn(table, "o_band", "price_band")                   // v4
    def phase(tag: String, bandCol: String, asOf: Option[Long]) =
      TxLog.snapshot(s, table, asOf)
        .groupBy(coalesce(col(bandCol), lit("(pre-evolve)")).as("band"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(tag).as("phase"), col("band"), col("n"), col("sum_price"))
    phase("pre-rename", "o_band", Some(3L))
      .unionByName(phase("post-rename", "price_band", None))
      .orderBy(col("phase").desc, col("band"))
  }

  /** Table-format lifecycle 6 — STREAMING tail of the log: three append
    * commits, then a real Structured Streaming query over the `graftlog`
    * source ([[graft.sources.GraftLogSource]]) drains them into a memory
    * sink; the declared output aggregates the drained rows per commit
    * version. The oracle replays the same three-generation union as
    * plain SQL — a hash match proves the source delivered every append
    * commit's rows exactly once with correct version tags, through the
    * REAL streaming engine (offsets, micro-batches, sink), not a batch
    * twin. TxLogSpec additionally pins restart-from-checkpoint
    * exactly-once and the fail-on-rewrite contract. */
  val txlogStreamTail = Q(
    "txlog_stream_tail",
    s"""SELECT v AS _commit_version, o_orderstatus,
       |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
       |FROM (
       |  SELECT 1 AS v, * FROM orders WHERE o_orderstatus = 'F'
       |  UNION ALL
       |  SELECT 2 AS v, * FROM orders WHERE o_orderstatus = 'O'
       |  UNION ALL
       |  SELECT 3 AS v, * FROM orders WHERE o_orderstatus = 'P')
       |GROUP BY v, o_orderstatus ORDER BY _commit_version""".stripMargin) {
    (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_tail")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    Seq("F", "O", "P").foreach(st =>
      TxLog.append(s, table, orders.filter(col("o_orderstatus") === st)))
    // Aggregate INSIDE foreachBatch (advice round-12): a memory sink holds
    // every drained row in driver memory until the view drops — at a
    // replica tier (150 M-row probes) that is a driver OOM by
    // construction. Here each micro-batch reduces DISTRIBUTED to its
    // group-level partials (exact DECIMAL sums — no per-batch rounding,
    // so the final round-once matches the single-pass dsum bit-for-bit on
    // the cent grid) and the driver only ever buffers those few rows per
    // batch; peak driver memory is O(batches × groups), not O(corpus).
    val partials = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    @volatile var pSchema: org.apache.spark.sql.types.StructType = null
    val q = s.readStream.format("graftlog").option("path", table).load()
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val p = batch.groupBy("_commit_version", "o_orderstatus")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice")
                .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("s"))
          if (pSchema == null) pSchema = p.schema
          partials.addAll(java.util.Arrays.asList(p.collect(): _*))
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    require(pSchema != null, "graftlog stream tail produced no micro-batch")
    s.createDataFrame(partials, pSchema)
      .groupBy("_commit_version", "o_orderstatus")
      .agg(sum(col("n")).as("n"),
        round(sum(col("s")), 2)
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_price"))
      .orderBy("_commit_version")
  }

  /** Table-format lifecycle 7 (round-13, VERDICT r12 next-item 3) —
    * write-time CHECK constraints: create → register `price_positive` +
    * `status_known` → valid append (lands) → POISON append (negative
    * prices — the commit must be REJECTED whole) → valid append → POISON
    * merge (nulled status — rejected) → drop the price constraint →
    * previously-poison batch now lands. The final snapshot is therefore a
    * pure function of which commits enforcement let through — the DuckDB
    * hash match IS the enforcement proof: had either poison commit
    * landed, or the post-drop batch been wrongly rejected, the aggregate
    * diverges. TxLogSpec covers the protocol side (version unchanged on
    * rejection, time travel, existing-data validation at ADD). */
  val txlogConstraints = Q(
    "txlog_constraints",
    s"""WITH final AS (
       |  SELECT o_orderstatus, o_totalprice FROM orders
       |  WHERE o_orderstatus IN ('F', 'O')
       |  UNION ALL
       |  SELECT o_orderstatus, -o_totalprice AS o_totalprice FROM orders
       |  WHERE o_orderstatus = 'P')
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM final GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val orders = t(s, dir, "orders")
    val table = freshTable(dir, "orders_cons")
    TxLog.create(s, table, Tables.orders, statsCol = Some("o_orderkey"))
    TxLog.addConstraint(s, table, "price_positive", "o_totalprice > 0")
    TxLog.addConstraint(s, table, "status_known",
      "o_orderstatus IS NOT NULL")
    TxLog.append(s, table, orders.filter(col("o_orderstatus") === "F"))
    val poison = orders.filter(col("o_orderstatus") === "P")
      .withColumn("o_totalprice", -col("o_totalprice"))
    val rejectedAppend =
      try { TxLog.append(s, table, poison); false }
      catch { case _: IllegalArgumentException => true }
    require(rejectedAppend, "poison append must be rejected at commit time")
    TxLog.append(s, table, orders.filter(col("o_orderstatus") === "O"))
    val poisonMerge = orders.filter(col("o_orderstatus") === "F")
      .filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderstatus", lit(null).cast("string"))
    val rejectedMerge =
      try { TxLog.merge(s, table, poisonMerge, key = "o_orderkey"); false }
      catch { case _: IllegalArgumentException => true }
    require(rejectedMerge, "poison merge must be rejected at commit time")
    TxLog.dropConstraint(table, "price_positive")
    TxLog.append(s, table, poison) // passes now: only status_known remains
    TxLog.snapshot(s, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val all: Seq[Q] =
    Seq(txlogMergeSnapshot, txlogTimeTravel, txlogPrunedRead, txlogChanges,
      txlogEvolve, txlogStreamTail, txlogConstraints)
}
