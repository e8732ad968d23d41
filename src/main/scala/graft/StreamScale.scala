package graft

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming-at-scale probe (round 5): drives the timer-driven TWS
  * sessionizer and watermarked dedup over a scaled events table through a
  * chronological file micro-batch feed on the RocksDB state-store
  * provider, and reports throughput, batch count, and state-store size —
  * the measured numbers SCALE.md's streaming section cites. Every prior
  * streaming proof ran at sf0.001-class volumes; this sizes the state
  * discipline (ListState pending sessions, dedup key store) at 10×.
  *
  * Usage: StreamScale <sfDir> [nFiles=20]
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 20
    val spark = GraftSession.local().appName("graft-stream-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val feed = chronoFeed(spark, sfDir, nFiles)
      val nIn = Tables.load(spark, sfDir, "events").count()
      runOne(spark, "tws_sessions", nIn,
        Streams.timedSessionsTws(spark,
          Streams.eventsStream(spark, feed)), OutputMode.Append())
      runOne(spark, "dedup_within_watermark", nIn,
        Streams.dedupWithinWatermark(
          Streams.eventsStream(spark, feed)), OutputMode.Append())
    } finally spark.stop()
  }

  /** Chronological micro-batch feed (same shape as StreamingSpec's): file
    * i holds the i-th time-slice so watermarks advance monotonically;
    * modification times are forced strictly increasing in slice order
    * (the file source processes oldest-modtime first). */
  private def chronoFeed(spark: SparkSession, sfDir: String,
      nFiles: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_feed").toString
    // Slice on a µs-Long shadow of the normalized TimestampType ts
    // (approxQuantile needs a numeric column); the written slices carry
    // the timestamp ts, which eventsStream's layout sniff reads natively.
    val raw = Tables.load(spark, sfDir, "events")
      .withColumn("tsu", unix_micros(col("ts")))
    val bounds = raw.stat.approxQuantile("tsu",
      (1 until nFiles).map(_.toDouble / nFiles).toArray, 0.0)
    val edges = Array(Long.MinValue) ++ bounds.map(_.toLong) ++ Array(Long.MaxValue)
    (0 until nFiles).foreach { i =>
      // Zero-padded slice names: subdirs are later sorted BY NAME to fix
      // modification times, and "f10" < "f2" lexicographically would feed
      // slices out of order — 17-slice disorder that the watermark then
      // "corrects" by dropping almost half the corpus as late.
      raw.filter(col("tsu") >= edges(i) && col("tsu") < edges(i + 1))
        .drop("tsu")
        .coalesce(1).write.mode("overwrite").parquet(f"$dir/f$i%03d")
    }
    val d = new java.io.File(dir)
    var idx = 0
    val base = System.currentTimeMillis() - 3600 * 1000L
    d.listFiles().filter(_.isDirectory).sortBy(_.getName).foreach { sub =>
      sub.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(d, f"p$idx%03d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(base + idx * 10000L)
        idx += 1
      }
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    dir
  }

  private def runOne(spark: SparkSession, name: String, nIn: Long,
      out: DataFrame, mode: OutputMode): Unit = {
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_ckpt_$name").toString
    @volatile var nOut = 0L
    val t0 = System.nanoTime()
    val q = out.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nOut += batch.count()
        ()
      }
      .start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.toSeq
    val ops = progs.flatMap(_.stateOperators)
    val stateRows =
      if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max
    val stateBytes =
      if (ops.isEmpty) 0L else ops.map(_.memoryUsedBytes).max
    val rocksBytes =
      if (ops.isEmpty) 0L
      else ops.map(o => Option(o.customMetrics
        .get("rocksdbTotalMemoryUsage")).map(_.longValue).getOrElse(0L)).max
    println(f"[stream-scale] $name: in=$nIn out=$nOut " +
      f"batches=${progs.size} ${secs}%.1f s ${nIn / secs}%.0f rows/s " +
      f"maxStateRows=$stateRows maxStateBytes=$stateBytes " +
      f"rocksdbMemBytes=$rocksBytes")
  }
}
