package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.TxLog
import graft.streaming.Streams

/** End-to-end streaming soak at the 10 M-event tier (round-14, VERDICT
  * r13 next-item 7): GraftLogStream tail → transform → exactly-once
  * MERGE sink with CHECK constraints + dead-letter channel, with a
  * mid-run kill/restart. The pieces are individually spec'd
  * (TxLogSpec); this proves the COMPOSITION converges exactly-once at
  * scale and measures sustained rows/s.
  *
  * Pipeline: events (10 commits of ~1 M) → score = value × 1.1 keyed by
  * event_id → dst table with CHECK(score > 0); 0.1 % of events carry a
  * negated value (poison) and must divert to the dead-letter dir, never
  * kill the stream, never clobber clean state.
  *
  * Usage: SoakProbe [sfDir] — defaults to /tmp/sfx100 (10 M events).
  */
object SoakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx100")
    val spark = graft.GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val src = s"/tmp/graft_soak/src-$stamp"
    val dst = s"/tmp/graft_soak/dst-$stamp"
    val dlq = s"/tmp/graft_soak/dlq-$stamp"
    val ckpt = s"/tmp/graft_soak/ckpt-$stamp"
    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[soak] $label%-52s $dt%.1f s")
      (r, dt)
    }

    val events = Tables.load(spark, sfDir, "events")
    val n = events.count()
    println(s"[soak] events rows = $n")
    // Poison plant: 0.1 % negated values (event_id % 1000 == 0).
    val fed = events.select($"event_id", $"user_id",
      when($"event_id" % 1000 === 0, -abs($"value") - lit(1.0))
        .otherwise(abs($"value") + lit(1.0)).as("value"))
    // event_id is SPARSE (hash-spread) — poison count and commit ranges
    // both derive from the actual id population, not the row count.
    val nPoison = events.filter($"event_id" % 1000 === 0).count()

    TxLog.create(spark, src, fed.limit(0).schema, Some("event_id"))
    def transform(df: DataFrame) = df
      .select($"event_id", $"user_id", ($"value" * lit(1.1)).as("score"))
    TxLog.create(spark, dst, transform(fed.limit(0)).schema,
      Some("event_id"))
    TxLog.addConstraint(spark, dst, "pos_score", "score > 0")

    val commitW =
      events.agg(max($"event_id")).head.getLong(0) / 10 + 1
    def ingest(lo: Int, hi: Int): Unit =
      (lo until hi).foreach { i =>
        TxLog.append(spark, src, fed.filter(
          $"event_id" >= i * commitW && $"event_id" < (i + 1) * commitW))
      }
    def sink() = Streams.txLogMergeSinkWithDeadLetter(spark,
      spark.readStream.format("graftlog").option("path", src).load()
        .drop("_commit_version").transform(transform),
      dst, key = "event_id", checkpointDir = ckpt,
      appId = "soak-probe", deadLetterDir = dlq)

    var sinkSecs = 0.0
    time("ingest commits 1-4 (~40% of events)")(ingest(0, 4))
    sinkSecs += time("sink drain of commits 1-4")(sink().awaitTermination())._2
    time("ingest commits 5-7")(ingest(4, 7))
    // MID-RUN KILL: stop the query while the batch is in flight; the
    // restart from the same checkpoint must converge with zero loss and
    // zero duplication (the (appId, batchId) mark absorbs a replayed
    // half-applied batch).
    val (q, _) = time("sink start (to be killed)")(sink())
    Thread.sleep(1500)
    val killedMidBatch = q.status.isTriggerActive
    q.stop()
    println(s"[soak] killed mid-batch = $killedMidBatch")
    sinkSecs += time("restart drain after kill")(sink().awaitTermination())._2
    time("ingest commits 8-10")(ingest(7, 10))
    sinkSecs += time("sink drain of commits 8-10")(sink().awaitTermination())._2

    val got = TxLog.snapshot(spark, dst).count()
    val dead = spark.read.parquet(dlq).count()
    val negatives = TxLog.snapshot(spark, dst).filter($"score" <= 0).count()
    println(s"[soak] dst rows = $got (expect ${n - nPoison}), dead = $dead " +
      s"(expect $nPoison), violations landed = $negatives")
    require(got == n - nPoison, s"clean rows: $got != ${n - nPoison}")
    require(dead == nPoison, s"dead letters: $dead != $nPoison")
    require(negatives == 0, "no violating row may land in dst")
    println(f"[soak] sustained pipeline throughput = ${n / sinkSecs}%.0f " +
      f"rows/s over $sinkSecs%.1f s of sink wall-clock ($n rows)")

    // Crash-replay: fresh checkpoint over the full 10-commit history —
    // both channels must be byte-stable (the mark-gated split).
    val before = (got, dead)
    val (_, tReplay) = time("fresh-checkpoint crash-replay") {
      Streams.txLogMergeSinkWithDeadLetter(spark,
        spark.readStream.format("graftlog").option("path", src).load()
          .drop("_commit_version").transform(transform),
        dst, key = "event_id",
        checkpointDir = s"$ckpt-replay", appId = "soak-probe",
        deadLetterDir = dlq).awaitTermination()
    }
    val after = (TxLog.snapshot(spark, dst).count(),
      spark.read.parquet(dlq).count())
    require(after == before, s"crash-replay changed state: $before -> $after")
    println(f"[soak] crash-replay no-op verified in $tReplay%.1f s")
    spark.stop()
  }
}
