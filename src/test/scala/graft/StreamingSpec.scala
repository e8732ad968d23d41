package graft

import graft.streaming.Streams
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** SURVEY §5.2 #4: incremental execution converges to the batch answers;
  * watermark and stateful semantics that only exist in streaming mode. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Split sf0.001 events into n parquet files in a temp dir (micro-batch
    * feed). Slices carry the loader-normalized TimestampType ts; the
    * stream source's layout sniff reads them natively. (The synthetic
    * Long-ns feeds further down exercise the legacy-layout path.) */
  private def feedDir(nFiles: Int): String = {
    val dir = ScratchDir.create("graft_stream_feed")
    val raw = Tables.load(spark, sfDir, "events")
    (0 until nFiles).foreach { i =>
      raw.filter(pmod(col("event_id"), lit(nFiles)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
    }
    flatten(dir)
  }

  /** Chronological micro-batch feed: file i holds the i-th time-slice, so
    * watermarks advance monotonically (required for append-mode tests).
    * Slicing runs on a µs-Long shadow column (approxQuantile needs a
    * numeric column); the written slices carry the timestamp ts. */
  private def feedDirChrono(nFiles: Int): String = {
    val dir = ScratchDir.create("graft_stream_chrono")
    val raw = Tables.load(spark, sfDir, "events")
      .withColumn("tsu", unix_micros(col("ts")))
    val bounds = raw.stat.approxQuantile("tsu",
      (1 until nFiles).map(_.toDouble / nFiles).toArray, 0.0)
    val edges = Array(Long.MinValue) ++ bounds.map(_.toLong) ++ Array(Long.MaxValue)
    (0 until nFiles).foreach { i =>
      raw.filter(col("tsu") >= edges(i) && col("tsu") < edges(i + 1))
        .drop("tsu")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
    }
    flatten(dir)
  }

  /** Cross-batch disorder within a bounded delay: chronological time
    * slices, but a deterministic subset (event_id % 5 == 0) of each slice
    * arrives ONE micro-batch late. Returns (dir, maxLatenessMs) so the
    * caller can size the watermark delay to keep every late row alive —
    * the disorder regime the sessionizer must absorb without emitting
    * phantom sessions. */
  private def feedDirDisordered(nFiles: Int): (String, Long) = {
    val dir = ScratchDir.create("graft_stream_disord")
    val raw = Tables.load(spark, sfDir, "events")
      .withColumn("tsu", unix_micros(col("ts")))
    val bounds = raw.stat.approxQuantile("tsu",
      (1 until nFiles).map(_.toDouble / nFiles).toArray, 0.0)
    val Array(tsMin, tsMax) = raw.agg(min(col("tsu")), max(col("tsu")))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val edges = Array(tsMin) ++ bounds.map(_.toLong) ++ Array(tsMax + 1)
    val widthMs = (0 until nFiles)
      .map(i => (edges(i + 1) - edges(i)) / 1000L).max
    def slice(i: Int) =
      raw.filter(col("tsu") >= edges(i) && col("tsu") < edges(i + 1))
        .drop("tsu")
    val lateMark = pmod(col("event_id"), lit(5)) === 0
    (0 until nFiles).foreach { i =>
      val onTime =
        if (i == nFiles - 1) slice(i) // last slice: nothing left to delay to
        else slice(i).filter(!lateMark)
      val late =
        if (i == 0) onTime.limit(0)
        else slice(i - 1).filter(lateMark)
      onTime.unionAll(late)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
    }
    // A slice-(i−1) straggler in batch i must clear the watermark computed
    // from batches 0..i−1 (≈ its own slice's upper edge): lateness is
    // bounded by one slice width; double it for approxQuantile slack while
    // keeping the final watermark inside the feed's time span so the
    // closeable-session assertion still bites.
    (flatten(dir), 2 * widthMs)
  }

  /** Move part files up so the file source sees n top-level files, with
    * strictly increasing modification times matching slice order (the file
    * source processes oldest-modtime first; equal modtimes would make the
    * order unspecified). */
  private def flatten(dir: String): String = {
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

  private def runToCompletion(out: DataFrame, mode: OutputMode): Seq[org.apache.spark.sql.Row] = {
    val ckpt = ScratchDir.create("graft_ckpt")
    val sink = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = out.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.synchronized { sink ++= batch.collect() }
        ()
      }
      .start()
    q.awaitTermination()
    sink.toSeq
  }

  test("incremental tumbling counts converge to the batch answer") {
    val dir = feedDir(5)
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val rows = runToCompletion(Streams.tumblingCounts(stream), OutputMode.Update())
    // Update mode re-emits windows; the LAST emission per key is the final
    // state and must equal the batch aggregate.
    val finalState = rows.map(r => (r.get(0), r.get(1)) -> (r.getLong(2), r.getDouble(3)))
      .foldLeft(Map.empty[Any, (Long, Double)]) { case (m, (k, v)) => m + (k -> v) }
    val batch = Streams.tumblingCounts(
      Tables.load(spark, dir = sfDir, "events")).collect()
      .map(r => ((r.get(0), r.get(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(finalState.size == batch.size)
    batch.foreach { case (k, v) => assert(finalState(k) == v, s"window $k") }
  }

  test("stateful aggregation on the RocksDB state store provider") {
    // Production state lives in RocksDB, not the default in-memory HDFS
    // provider — prove the same tumbling aggregation is provider-agnostic
    // (the 1000-executor deployment shape SCALE.md claims).
    val saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = feedDir(3)
      val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
      val rows = runToCompletion(Streams.tumblingCounts(stream), OutputMode.Update())
      val finalState = rows.map(r => (r.get(0), r.get(1)) -> (r.getLong(2), r.getDouble(3)))
        .foldLeft(Map.empty[Any, (Long, Double)]) { case (m, (k, v)) => m + (k -> v) }
      val batch = Streams.tumblingCounts(
        Tables.load(spark, dir = sfDir, "events")).collect()
        .map(r => ((r.get(0), r.get(1)), (r.getLong(2), r.getDouble(3)))).toMap
      assert(finalState == batch)
    } finally spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", saved)
  }

  test("timer-driven sessionizer closes sessions like the batch gap split") {
    withRocksDb { timerSessionCheck(feedDirChrono(5), delayMs = 0L) }
  }

  test("timer-driven sessionizer absorbs cross-batch disorder within the watermark") {
    // Stragglers arrive one micro-batch late (within the watermark delay):
    // a late row may fall inside — or bridge — sessions a batch-local view
    // would already have closed. Emission must wait for the watermark, or
    // these rows spawn phantom/fragmented sessions (the emitted ⊆ batch
    // invariant below is exactly what inline emission violated).
    val (dir, delayMs) = feedDirDisordered(5)
    withRocksDb { timerSessionCheck(dir, delayMs) }
  }

  /** transformWithState timers require multi-column-family state — the
    * RocksDB provider (the production default at scale anyway). */
  private def withRocksDb(body: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try { body }
    finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  private def timerSessionCheck(dir: String, delayMs: Long): Unit = {
    val gapMs = 30L * 60 * 1000
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val emitted = runToCompletion(
      Streams.timedSessionsTws(spark, stream, gapMs,
        watermarkDelay = s"$delayMs milliseconds"),
      OutputMode.Append())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // Batch expectation: per-user gap-split over the same ms timeline.
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", unix_millis($"ts").as("ms"))
      .as[(Long, Long)].collect()
    val sessions = ev.groupBy(_._1).flatMap { case (u, es) =>
      val ts = es.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = ts.head; var last = ts.head; var n = 1L
      ts.tail.foreach { t =>
        if (t <= last + gapMs) { last = t; n += 1 }
        else { out += ((u, start, last, n)); start = t; last = t; n = 1L }
      }
      out += ((u, start, last, n))
      out
    }.toSet
    // Nothing is emitted that the batch split doesn't contain.
    assert(emitted.subsetOf(sessions),
      s"phantom sessions: ${emitted.diff(sessions).take(3)}")
    // Every session whose timeout precedes the watermark reached by the
    // last batch (= max event time of all slices but the final one, minus
    // the configured delay) MUST have been closed by its timer.
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val wmMs = files.dropRight(1).map { f =>
      spark.read.schema(Tables.events).parquet(f.toString)
        .agg(max(unix_millis($"ts"))).head.getLong(0)
    }.max - delayMs
    val guaranteed = sessions.filter(s => s._3 + gapMs <= wmMs)
    assert(guaranteed.nonEmpty, "feed produced no closeable sessions")
    assert(guaranteed.subsetOf(emitted),
      s"unclosed due sessions: ${guaranteed.diff(emitted).take(3)}")
  }

  test("stream-static enrich converges to the batch answer") {
    val dir = feedDir(4)
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val dim = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val rows = runToCompletion(
      Streams.staticEnrich(stream, dim), OutputMode.Update())
    // Update mode re-emits segments; last emission per key is final.
    val finalState = rows.map(r => r.get(0) -> ((r.getLong(1), r.getDouble(2))))
      .foldLeft(Map.empty[Any, (Long, Double)]) { case (m, (k, v)) => m + (k -> v) }
    val batch = operators.StreamingBatch.staticEnrich.fn(spark, sfDir)
      .collect().map(r => r.get(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finalState == batch)
  }

  test("watermark drops late rows deterministically in append mode") {
    // Append mode is where the watermark contract is deterministic: a
    // window emits once when the watermark passes its end, and rows
    // arriving after that are dropped. (Update mode's late-drop is
    // documented best-effort — state for an evicted window can be
    // recreated — so it is not asserted here.)
    val dir = ScratchDir.create("graft_late")
    def mk(ids: Seq[Long], tsBase: Long) =
      ids.map(i => (i, tsBase + i * 1000000L, i % 3, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val t0 = 1700000000L * 1000000000L // ns epoch, hour H1
    val hour = 3600L * 1000000000L
    // Eviction timing: a window's state is evicted at the end of the batch
    // whose watermark passes its end; only rows arriving AFTER that are
    // dropped. So the late file must come ≥2 batches after its window's
    // data: H1 | H3 (passes watermark over H1 -> H1 emits+evicts) | H5 |
    // late-H1 (dropped).
    mk(1L to 50L, t0).coalesce(1).write.parquet(s"$dir/a_h1")
    mk(51L to 80L, t0 + 3 * hour).coalesce(1).write.parquet(s"$dir/b_h3")
    mk(81L to 85L, t0 + 5 * hour).coalesce(1).write.parquet(s"$dir/c_h5")
    mk(86L to 95L, t0).coalesce(1).write.parquet(s"$dir/d_late")
    flatten(dir) // one file per micro-batch, in name order
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val rows = runToCompletion(
      Streams.watermarkedCounts(stream, "10 minutes"), OutputMode.Append())
    val h1Start = java.time.Instant.ofEpochSecond(1700000000L)
      .truncatedTo(java.time.temporal.ChronoUnit.HOURS)
    val byWindow = rows.groupBy(_.getTimestamp(0).toInstant)
      .view.mapValues(_.map(_.getLong(1))).toMap
    // H1 emitted exactly once with only the 50 on-time rows: the 10 late
    // rows (arriving after H1's eviction) are dropped, never re-emitted.
    assert(byWindow(h1Start) == Seq(50L),
      s"H1 must emit once with 50 rows, saw $byWindow")
    assert(byWindow.removed(h1Start).values.toSeq.flatten.forall(_ == 30L),
      s"only H3 (30 rows) may also emit, saw $byWindow")
  }

  test("dropDuplicatesWithinWatermark removes replayed event ids") {
    val dir = ScratchDir.create("graft_dup")
    val t0 = 1700000000L * 1000000000L
    val batch = (1L to 20L) ++ (1L to 20L) // every id twice
    batch.zipWithIndex.map { case (id, i) =>
      (id, t0 + i * 1000000000L, id % 5, "view", 0.5, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(dir + "/all")
    flatten(dir)
    val stream = Streams.eventsStream(spark, dir)
    val rows = runToCompletion(
      Streams.dedupWithinWatermark(stream, "1 hour"), OutputMode.Append())
    assert(rows.map(_.getLong(0)).distinct.length == 20)
    assert(rows.length == 20)
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    val dir = feedDir(3)
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val rows = runToCompletion(
      Streams.userRunningTotals(spark, stream), OutputMode.Update())
    // last emission per user equals the batch per-user aggregate
    val finalState = rows.foldLeft(Map.empty[Long, (Long, Double)]) { (m, r) =>
      m + (r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    }
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)), sum("value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(finalState.keySet == batch.keySet)
    batch.foreach { case (u, (n, total)) =>
      val (fn, ft) = finalState(u)
      assert(fn == n && math.abs(ft - total) < 1e-6, s"user $u")
    }
  }

  test("sliding windows: incremental update converges to the batch answer") {
    val dir = feedDirChrono(3)
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val out = stream.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))
    val rows = runToCompletion(out, OutputMode.Update())
    val finalState = rows.foldLeft(Map.empty[Any, Long]) { (m, r) =>
      m + (r.get(0) -> r.getLong(1))
    }
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(finalState == batch)
  }

  test("streaming parquet file sink: append-mode windows land as files") {
    val dir = ScratchDir.create("graft_fsink_feed")
    def mk(ids: Seq[Long], tsBase: Long) =
      ids.map(i => (i, tsBase + i * 1000000L, i % 3, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val t0 = 1700000000L * 1000000000L
    val hour = 3600L * 1000000000L
    mk(1L to 40L, t0).coalesce(1).write.parquet(s"$dir/a")
    mk(41L to 50L, t0 + 3 * hour).coalesce(1).write.parquet(s"$dir/b") // closes H1
    flatten(dir)
    val sinkDir = ScratchDir.create("graft_fsink_out")
    val q = Streams.watermarkedCounts(
      Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1), "10 minutes")
      .writeStream
      .format("parquet")
      .outputMode(OutputMode.Append())
      .option("path", sinkDir)
      .option("checkpointLocation",
        ScratchDir.create("graft_fsink_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val written = spark.read.parquet(sinkDir).collect()
    assert(written.map(r => r.getLong(1)).toSeq == Seq(40L),
      s"H1 window (40 rows) must be the one finalized file row: ${written.toSeq}")
  }

  test("transformWithState running totals match mapGroupsWithState (RocksDB store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = feedDir(3)
      val rows = runToCompletion(
        Streams.userRunningTotalsTws(spark,
          Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)),
        OutputMode.Update())
      val finalState = rows.foldLeft(Map.empty[Long, (Long, Double)]) { (m, r) =>
        m + (r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      }
      val batch = Tables.load(spark, sfDir, "events")
        .groupBy("user_id").agg(count(lit(1)), sum("value"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(finalState.keySet == batch.keySet)
      batch.foreach { case (u, (n, total)) =>
        val (fn2, ft) = finalState(u)
        assert(fn2 == n && math.abs(ft - total) < 1e-6, s"user $u")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("session windows: incremental append equals batch sessionization") {
    val dir = feedDirChrono(4)
    // Sessions ending within the gap of the stream's max event time never
    // close in append mode; a far-future sentinel event flushes them.
    val sentinelUser = 999999L
    val maxUs = spark.read.schema(Tables.events).parquet(s"$dir")
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    Seq((999999L, new java.sql.Timestamp((maxUs + 86400L * 1000000L) / 1000L),
        sentinelUser, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/zz_sentinel")
    val d = new java.io.File(dir)
    d.listFiles().filter(_.isDirectory).foreach { sub =>
      sub.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(d, "p999.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis())
      }
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val rows = runToCompletion(
      Streams.sessionCounts(stream, "30 minutes", "0 seconds"), OutputMode.Append())
    val batch = Streams.sessionCounts(Tables.load(spark, sfDir, "events"))
      .collect().map(_.toSeq).toSet
    assert(rows.filter(_.getLong(0) != sentinelUser).map(_.toSeq).toSet == batch)
  }

  test("stream-stream LEFT OUTER join: outer rows flush on watermark, equal batch") {
    // I8b: unmatched views may only emit once the watermark passes
    // v_ts + 30 min. The global watermark is the MIN over both input
    // branches' event-time columns, so the flush sentinels must advance
    // BOTH: one far-future view AND one far-future purchase (10 days
    // apart so they cannot match each other).
    val dir = feedDirChrono(4)
    val sentinelUser = 999999L
    val maxUs = spark.read.schema(Tables.events).parquet(s"$dir")
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    Seq(
      (999998L, new java.sql.Timestamp((maxUs + 86400L * 1000000L) / 1000L),
        sentinelUser, "view", 0.0, "{}"),
      (999999L, new java.sql.Timestamp((maxUs + 11 * 86400L * 1000000L) / 1000L),
        sentinelUser, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/zz_sentinel")
    val d = new java.io.File(dir)
    d.listFiles().filter(_.isDirectory).foreach { sub =>
      sub.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(d, "p999.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis())
      }
      sub.listFiles().foreach(_.delete()); sub.delete()
    }
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val rows = runToCompletion(
      Streams.attributionJoinLeftOuter(stream), OutputMode.Append())
      .filter(_.getLong(0) != sentinelUser)
    val batch = Streams.attributionJoinLeftOuter(
      Tables.load(spark, sfDir, "events")).collect()
    assert(batch.exists(_.isNullAt(2)), "corpus must contain unmatched views")
    assert(batch.exists(!_.isNullAt(2)), "corpus must contain matched views")
    assert(rows.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
  }

  test("stream-stream interval join: incremental inner join equals batch join") {
    // I8: purchases ⋈ views within [v_ts, v_ts + 30 min) per user, both
    // sides watermarked. Chronological feed ⇒ no matches are dropped by
    // eviction (a view is only evicted once the watermark passes
    // v_ts + 30 min, after which no purchase can still match it), so the
    // incremental inner join must converge to the exact batch join.
    val dir = feedDirChrono(4)
    val stream = Streams.eventsStream(spark, dir, maxFilesPerTrigger = 1)
    val rows = runToCompletion(Streams.attributionJoin(stream), OutputMode.Append())
    val batch = Streams.attributionJoin(Tables.load(spark, sfDir, "events"))
      .collect().map(_.toSeq)
    assert(batch.nonEmpty, "corpus must contain attributable purchases")
    assert(rows.map(_.toSeq).toSet == batch.toSet)
  }

  test("incremental index maintenance: per-batch segments merge to the full build") {
    // The ingest-time lifecycle end-to-end: a document STREAM arrives in
    // micro-batches, each batch builds its own inverted-index segment
    // (CurationOps3.invertedIndex — the mergeable per-batch shape), and
    // the segments fold through IndexOps.mergeSegments. The result must
    // equal the one-shot batch build over the whole corpus.
    import graft.operators.{CurationOps3, IndexOps}
    val dir = ScratchDir.create("graft_idx_feed")
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    (0 until 3).foreach { i =>
      docs.filter(pmod($"doc_id", lit(3)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
    }
    val feed = flatten(dir)
    val segDir = ScratchDir.create("graft_idx_segs")
    val ckpt = ScratchDir.create("graft_idx_ckpt")
    val q = Streams.foreachBatchSink(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      ckpt) { (batch, id) =>
      CurationOps3.invertedIndex(batch)
        .write.mode("overwrite").parquet(s"$segDir/seg$id")
    }
    q.awaitTermination()
    val segs = new java.io.File(segDir).listFiles().filter(_.isDirectory)
      .sortBy(_.getName).map(f => spark.read.parquet(f.toString))
    assert(segs.length == 3, "one segment per micro-batch")
    val merged = segs.reduce(IndexOps.mergeSegments).collect().map(_.toSeq)
    val full = CurationOps3.invertedIndex(docs).collect().map(_.toSeq)
    assert(merged.toSeq == full.toSeq)
  }

  test("streaming percolator matches the batch evaluation, append mode") {
    // Document feed: 4 micro-batch slices of the documents table.
    val dir = ScratchDir.create("graft_doc_feed")
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    (0 until 4).foreach { i =>
      docs.filter(pmod($"doc_id", lit(4)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
    }
    val feed = flatten(dir)
    val queries = Seq(
      "alert_tables" -> Seq("table", "scan"),
      "alert_vectors" -> Seq("vector"),
      "alert_errors" -> Seq("slow", "error"))
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val rows = runToCompletion(
      Streams.percolateStream(stream, queries), OutputMode.Append())
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Streams.percolateStream(docs, queries).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "corpus must match at least one stored query")
    assert(rows == batch)
    // Stateless contract: every match emits exactly once across batches.
    assert(rows.size == Streams.percolateStream(docs, queries).count())
  }

  test("streaming near-dup: cross-batch minhash pairs via TTL'd bucket " +
      "state (RocksDB store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime TimeMode + AvailableNow: no-data micro-batches keep
    // firing to advance the TTL clock and the run never terminates — off
    // for the test (continuous production triggers are unaffected).
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      import spark.implicits._
      val dir = ScratchDir.create("graft_neardup_feed")
      val base = "the quick brown fox jumps over the lazy dog near dup corpus"
      // Batch 1: three distinct docs. Batch 2: doc 10 is a near-copy of
      // doc 1 (one token changed), doc 11 is unrelated — the (1, 10) pair
      // must be found ACROSS batches, through stored bucket state.
      Seq((1L, base), (2L, "completely different text about spark plans"),
          (3L, "yet another unrelated document body entirely"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/b0")
      Seq((10L, base.replace("dog", "cat")),
          (11L, "nothing in common with anything else here"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/b1")
      // Flatten so the file source sees two files, one per micro-batch.
      val flat = ScratchDir.create("graft_neardup_flat")
      new java.io.File(s"$dir/b0").listFiles.filter(_.getName.endsWith("parquet"))
        .foreach(f => Files.copy(f.toPath, java.nio.file.Paths.get(flat, "a_" + f.getName)))
      new java.io.File(s"$dir/b1").listFiles.filter(_.getName.endsWith("parquet"))
        .foreach(f => Files.copy(f.toPath, java.nio.file.Paths.get(flat, "b_" + f.getName)))
      val docsStream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
      val rows = runToCompletion(
        Streams.nearDupStreamTws(spark, docsStream, threshold = 0.5),
        OutputMode.Append())
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 10L)),
        s"cross-batch near-dup (1,10) not found; got $pairs")
      // No unrelated pair clears the threshold.
      assert(pairs.forall(p => p == ((1L, 10L))), s"phantom pairs: $pairs")
      // Estimated jaccard of the planted pair is high (one token changed).
      val est = rows.filter(r => r.getLong(0) == 1L && r.getLong(1) == 10L)
        .map(_.getDouble(2)).max
      assert(est >= 0.5, s"estimated jaccard too low: $est")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevNoData match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }
}
