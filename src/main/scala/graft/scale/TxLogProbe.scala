package graft.scale

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.TxLog

/** GraftLog at a big tier (round-10): commit/stats overhead at 15 M-row
  * appends, the pruned-read payoff, and COW-merge write amplification.
  * Usage: TxLogProbe [sfDir] — defaults to the 60 M tier. */
object TxLogProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx100")
    val spark = graft.GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[txprobe] $label%-44s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val tb = s"/tmp/graft_txprobe/${java.util.UUID.randomUUID()}"
    val orders = Tables.load(spark, sfDir, "orders")
    val n = orders.count()
    println(s"[txprobe] corpus orders rows = $n")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    // 8 key-ranged append batches (the ingest shape: each batch a key era).
    val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
    val width = maxKey / 8 + 1
    time(s"8 appends of ~${n / 8} rows each (incl. stats pass)") {
      (0L until 8L).foreach { i =>
        TxLog.append(spark, tb, orders.filter(
          col("o_orderkey") >= i * width && col("o_orderkey") < (i + 1) * width))
      }
    }
    val full = time("full snapshot count") {
      TxLog.snapshot(spark, tb).count()
    }
    require(full == n, s"snapshot $full != corpus $n")
    val loK = maxKey / 3
    val hiK = loK + maxKey / 100
    val pruned = TxLog.snapshotRange(spark, tb, loK.toString, hiK.toString)
    val opened = pruned.inputFiles.length
    val total = TxLog.state(tb)._1.size
    val pn = time(s"pruned 1%%-range count (opens $opened of $total files)") {
      pruned.count()
    }
    println(s"[txprobe] pruned rows = $pn")
    // COW merge of a 0.5%-key batch confined to one era: write
    // amplification = rewritten rows / source rows.
    val src = orders.filter(col("o_orderkey") >= loK &&
        col("o_orderkey") < loK + maxKey / 200)
      .withColumn("o_orderpriority", lit("MERGED"))
    val srcN = src.count()
    val beforeFiles = TxLog.state(tb)._1.map(_.path).toSet
    time(s"COW merge of $srcN source rows") {
      TxLog.merge(spark, tb, src, "o_orderkey")
    }
    val afterState = TxLog.state(tb)._1
    val rewrittenRows = afterState.filterNot(f => beforeFiles(f.path))
      .map(_.rows).sum
    println(f"[txprobe] merge write amplification = $rewrittenRows rewritten" +
      f" / $srcN source = ${rewrittenRows.toDouble / srcN}%.1fx " +
      f"(files rewritten: ${beforeFiles.size - afterState.count(f => beforeFiles(f.path))} of ${beforeFiles.size})")
    require(TxLog.snapshot(spark, tb).count() == n,
      "merge must preserve row count (pure updates)")

    // Same lifecycle with RANGE-CLUSTERED batches: repartitionByRange on
    // the stats key before each append gives each file a disjoint tight
    // key interval — the ingest-side knob that turns era-granular skipping
    // into file-granular skipping.
    val tb2 = s"/tmp/graft_txprobe/${java.util.UUID.randomUUID()}"
    TxLog.create(spark, tb2, Tables.orders, Some("o_orderkey"))
    time("8 range-clustered appends") {
      (0L until 8L).foreach { i =>
        TxLog.append(spark, tb2, orders.filter(
          col("o_orderkey") >= i * width && col("o_orderkey") < (i + 1) * width)
          .repartitionByRange(32, col("o_orderkey")))
      }
    }
    val pruned2 = TxLog.snapshotRange(spark, tb2, loK.toString, hiK.toString)
    val opened2 = pruned2.inputFiles.length
    val total2 = TxLog.state(tb2)._1.size
    val pn2 = time(s"pruned 1%%-range count (opens $opened2 of $total2 files)") {
      pruned2.count()
    }
    require(pn2 == pn, s"clustered pruned count $pn2 != $pn")
    val before2 = TxLog.state(tb2)._1.map(_.path).toSet
    time(s"COW merge of $srcN source rows (clustered)") {
      TxLog.merge(spark, tb2, src, "o_orderkey")
    }
    val after2 = TxLog.state(tb2)._1
    val rew2 = after2.filterNot(f => before2(f.path)).map(_.rows).sum
    println(f"[txprobe] clustered merge write amplification = $rew2 / $srcN" +
      f" = ${rew2.toDouble / srcN}%.1fx")
    require(TxLog.snapshot(spark, tb2).count() == n)

    // Round-14 clustered OPTIMIZE (VERDICT r13 item 6): decay tb2's
    // layout with whole-range churn appends (each spans the full key
    // range — the long-lived-table mode), then compact(clusterBy) and
    // re-measure the pruned read. Expect opens to fall back to the
    // fresh-clustered level.
    val churnRows = math.max(1L, n / 100)
    time(s"6 whole-range churn appends of ~$churnRows rows") {
      (0 until 6).foreach { i =>
        TxLog.append(spark, tb2, orders
          .filter(pmod(col("o_orderkey"), lit(97)) === i).limit(churnRows.toInt)
          .coalesce(1))
      }
    }
    val n2 = TxLog.snapshot(spark, tb2).count()
    val prunedC = TxLog.snapshotRange(spark, tb2, loK.toString, hiK.toString)
    val openedC = prunedC.inputFiles.length
    val totalC = TxLog.state(tb2)._1.size
    println(s"[txprobe] post-churn pruned read opens $openedC of $totalC files")
    time("OPTIMIZE: compact(target=256, clusterBy=o_orderkey)") {
      TxLog.compact(spark, tb2, target = 256, clusterBy = Some("o_orderkey"))
    }
    val prunedO = TxLog.snapshotRange(spark, tb2, loK.toString, hiK.toString)
    val openedO = prunedO.inputFiles.length
    val totalO = TxLog.state(tb2)._1.size
    println(s"[txprobe] post-OPTIMIZE pruned read opens $openedO of $totalO files")
    require(TxLog.snapshot(spark, tb2).count() == n2,
      "OPTIMIZE must preserve the row set")
    require(openedO <= opened2 + 1,
      s"post-OPTIMIZE opens $openedO must match fresh-clustered $opened2")

    // Streaming tail (round-11, the graftlog source): an APPEND-ONLY
    // ingest table (the source's contract — tb/tb2 carry merge rewrites,
    // which the source correctly refuses) drained through the real
    // streaming engine into a foreachBatch counter, then ONE incremental
    // commit tailed from the checkpoint — the nightly-delta shape.
    // Measures end-to-end drain throughput and the per-micro-batch
    // constant.
    val tb3 = s"/tmp/graft_txprobe/${java.util.UUID.randomUUID()}"
    TxLog.create(spark, tb3, Tables.orders, Some("o_orderkey"))
    time("8 appends for the streaming-tail table") {
      (0L until 8L).foreach { i =>
        TxLog.append(spark, tb3, orders.filter(
          col("o_orderkey") >= i * width && col("o_orderkey") < (i + 1) * width))
      }
    }
    val ckpt = s"/tmp/graft_txprobe/ckpt-${java.util.UUID.randomUUID()}"
    val drained = new java.util.concurrent.atomic.AtomicLong(0)
    def tailOnce(label: String): Unit = time(label) {
      val q = spark.readStream.format("graftlog").option("path", tb3).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          drained.addAndGet(b.count()); ()
        }.start()
      q.processAllAvailable()
      q.stop()
    }
    tailOnce(s"stream-drain of 8 commits (~$n rows)")
    require(drained.get() == n, s"drained ${drained.get()} != $n")
    val delta = math.min(n, 100000L).toInt
    TxLog.append(spark, tb3, orders.limit(delta))
    tailOnce(s"incremental tail of ONE $delta-row commit")
    require(drained.get() == n + delta,
      s"incremental tail drained ${drained.get()}, expected ${n + delta}")
    println(s"[txprobe] stream-drained rows = ${drained.get()}")
    spark.stop()
  }
}
