package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-dedup ingest rung (round 15, VERDICT r14 next-item 6;
  * round 16 adds the post-fix CONTENDED arm and the backpressure-knob
  * sweep — VERDICT r15 item 6): the full replica corpus streamed through
  * [[graft.streaming.Streams.nearDupIngestSink]] in micro-batches —
  * incremental MinHash vs the stored survivor index, exactly-once
  * survivor MERGE + index APPEND, poison dead-lettering. Reports ingest
  * rows/s and the survivor/dead counts. The replica corpus is the
  * adversarial clone shape (~1000 copies per distinct text), so the
  * cross-set rep-collapse discipline carries the whole run.
  *
  * Modes (arg 4):
  *   solo        — one ingest at the given maxFilesPerTrigger (arg 5)
  *   contend     — same, with a concurrent full-corpus hash-aggregate
  *                 loop on a second thread of the same session (the
  *                 shared-cluster shape: the stream never has the box to
  *                 itself)
  *   knob        — maxFilesPerTrigger sweep (2,4,8,16 over the same
  *                 feed): the rows/s-vs-micro-batch-size curve. Bigger
  *                 triggers amortize the per-batch fixed cost (index
  *                 snapshot read + band probe + two commits) over more
  *                 rows; the ceiling is the batch the box can hold.
  *
  * Usage: StreamNearDupProbe [sfDir] [outRoot] [nBatches] [mode] [mft]
  */
object StreamNearDupProbe {

  /** One ingest run into a fresh root; returns (wall s, survivors,
    * index rows, dead letters). */
  private def runOnce(spark: SparkSession, docs: DataFrame, feed: String,
      root: String, mft: Int, contend: Boolean): (Double, Long, Long, Long) = {
    // A pre-existing checkpoint makes the stream drain ZERO new files and
    // the arm report wildly inflated rows/s with no error (ADVICE r16) —
    // a measurement root must be fresh, so fail loudly, don't wipe.
    require(!new java.io.File(s"$root/ckpt").exists(),
      s"stale run root: $root/ckpt exists — a resumed checkpoint would " +
        "re-ingest nothing and inflate rows/s; remove the root and re-run")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", mft)
      .parquet(s"$feed/*")
    @volatile var stop = false
    // Captured, not swallowed (ADVICE r16): a dead contender silently
    // turns the contended arm into a solo measurement.
    @volatile var contenderErr: Option[Throwable] = None
    val contender =
      if (!contend) None
      else Some(new Thread(() => {
        // The contention load: a shuffle-bearing full-corpus aggregate,
        // looped until the stream drains — the declared exact_dedup
        // key's cost class, sharing the session's cores.
        try {
          while (!stop) {
            docs.groupBy(xxhash64(col("text"))).count().count()
            ()
          }
        } catch {
          case scala.util.control.NonFatal(e) => contenderErr = Some(e)
        }
      }, "ndi-contender"))
    contender.foreach(_.start())
    val t1 = System.nanoTime()
    // try/finally: a stream failure must still stop the contender — a
    // leaked non-daemon loop thread would keep the JVM alive burning 32
    // cores after the probe's own error (round-16 code review).
    try graft.streaming.Streams.nearDupIngestSink(spark, stream,
      s"$root/survivors", s"$root/index", s"$root/dead",
      s"$root/ckpt", s"ndi-probe-${root.hashCode}").awaitTermination()
    finally {
      stop = true
      contender.foreach(_.join())
    }
    contenderErr.foreach { e =>
      throw new IllegalStateException(
        "contender thread died mid-run — the contended arm degenerated " +
          "to a solo measurement; fix and re-run", e)
    }
    val wall = (System.nanoTime() - t1) / 1e9
    val surv = graft.sources.TxLog.snapshot(spark, s"$root/survivors").count()
    val idx = graft.sources.TxLog.snapshot(spark, s"$root/index").count()
    val dead =
      try spark.read.parquet(s"$root/dead").count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    require(surv == idx, "survivors and index row counts diverged")
    (wall, surv, idx, dead)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx1000")
    val root = args.drop(1).headOption.getOrElse("/tmp/ndistream")
    val nBatches = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val mode = args.drop(3).headOption.getOrElse("solo")
    val mft = args.drop(4).headOption.map(_.toInt).getOrElse(4)
    val spark = graft.GraftSession.local(64).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val n = docs.count()

    // Feed: nBatches parquet dirs of 4 files each, hash-partitioned so
    // clones of one text land across MANY batches (the worst case for
    // incremental dedup — every batch probes history AND self-pairs).
    // Written once; every arm streams the same files.
    val feed = s"$root/feed"
    // Completion marker ties the feed to (sfDir, nBatches, n): a crash
    // mid-write or a re-run with different parameters must regenerate,
    // not silently stream a stale/partial feed (round-16 code review).
    val marker = java.nio.file.Paths.get(s"$feed/_graft_feed_done")
    val stamp = s"$sfDir|$nBatches|$n"
    val fresh = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == stamp
    if (!fresh) {
      val t0 = System.nanoTime()
      val fdir = new java.io.File(feed)
      if (fdir.isDirectory) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(fdir)
      }
      (0 until nBatches).foreach { i =>
        docs.filter(pmod(xxhash64(col("doc_id")), lit(nBatches)) === i)
          .coalesce(4)
          .write.mode("overwrite").parquet(s"$feed/b$i")
      }
      java.nio.file.Files.writeString(marker, stamp)
      println(f"[ndistream] feed layout ($nBatches batches, $n rows): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    mode match {
      case "knob" =>
        Seq(2, 4, 8, 16).foreach { m =>
          val (wall, surv, idx, dead) =
            runOnce(spark, docs, feed, s"$root/knob$m", m, contend = false)
          println(f"[ndistream-knob] mft=$m%2d ingest $n rows in " +
            f"$wall%.1f s = ${n / wall}%.0f rows/s; " +
            f"survivors=$surv index=$idx dead=$dead")
        }
      case m =>
        val contend = m == "contend"
        val (wall, surv, idx, dead) =
          runOnce(spark, docs, feed, s"$root/$m", mft, contend)
        println(f"[ndistream] mode=$m mft=$mft ingest $n rows in " +
          f"$wall%.1f s = ${n / wall}%.0f rows/s; " +
          f"survivors=$surv index=$idx dead=$dead")
    }
    spark.stop()
  }
}
