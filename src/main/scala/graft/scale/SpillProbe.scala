package graft.scale

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Constrained-memory spill certification (round-16, VERDICT r15 item 3):
  * every prior rung ran with a ~53 GiB block manager, so the sort/agg/
  * join SPILL paths — the first thing a real cluster hits — had no
  * evidence. This probe re-runs declared keys under whatever heap the
  * caller capped the JVM to (`SPARK_DRIVER_MEM=4g tools/run.sh …`) and
  * captures per-key wall, rows, and the task-metrics spill counters
  * (memoryBytesSpilled / diskBytesSpilled / peakExecutionMemory). The
  * certification claim is: plans DEGRADE TO SPILL — complete, correct,
  * slower — never OOM.
  *
  * Session knobs mirror the sf10 A/B tier (shuffle 64, 64 MB splits, AQE
  * on, parquet-direct — no table caching: a capped heap is exactly where
  * pinning a corpus would lie about memory), with
  * `spark.memory.fraction` optionally tightened via SPARK_GRAFT_MEMFRAC
  * to push the pressure knob further than the heap alone.
  *
  * Usage: SpillProbe <sfDir> [key...]   (default: the Bench headline 20)
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx100")
    val keys = if (args.length > 1) args.drop(1).toSeq
      else graft.Bench.headline
    val spark = graft.GraftSession.local(64)
      .config("spark.sql.files.maxPartitionBytes", "67108864")
      .config("spark.memory.fraction",
        sys.env.getOrElse("SPARK_GRAFT_MEMFRAC", "0.6"))
      // Round-18 A/B knob (VERDICT r17 item 4): ObjectHashAggregate
      // falls back to sort-based aggregation past this many distinct
      // groups per partition (Spark default 128) — with millions of
      // customers the win_topn_agg partial agg sort-falls-back almost
      // immediately, paying the hash path's setup and using none of it.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OHA_FALLBACK", "128"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    val peakExec = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })
    val heap = Runtime.getRuntime.maxMemory() >> 20
    println(s"[spill] heap=${heap}MiB sfDir=$sfDir keys=${keys.size} " +
      s"memFrac=${sys.env.getOrElse("SPARK_GRAFT_MEMFRAC", "0.6")}")
    keys.foreach { key =>
      memSpill.set(0); diskSpill.set(0); peakExec.set(0)
      val t0 = System.nanoTime()
      // noop-format write, not count(): EliminateSorts prunes a terminal
      // ORDER BY under count, and the final global sort is precisely one
      // of the spill paths this probe certifies (round-16 code review).
      // Row count rides the write as an Observation metric.
      val obs = org.apache.spark.sql.Observation()
      graft.SparkEntry.queries(key)(spark, sfDir)
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      val n = obs.get("n").asInstanceOf[Long]
      val wall = (System.nanoTime() - t0) / 1e9
      // Listener events are posted async (the bus drain API is
      // private[spark]). A fixed settle mis-attributes on a loaded bus —
      // stragglers past the sleep bleed into the NEXT key's counters, in
      // exactly the constrained-memory runs this probe certifies (ADVICE
      // r16) — so poll until the counters hold still for two consecutive
      // intervals (bounded at 10 s; the read below then sees a drained
      // bus, and the next key's reset can't swallow stragglers).
      var stable = 0
      var prev = (-1L, -1L, -1L)
      var waited = 0
      while (stable < 2 && waited < 40) {
        Thread.sleep(250); waited += 1
        val cur = (memSpill.get, diskSpill.get, peakExec.get)
        stable = if (cur == prev) stable + 1 else 0
        prev = cur
      }
      println(f"[spill] $key%-26s wall=$wall%8.2f s rows=$n%12d " +
        f"spillMem=${memSpill.get >> 20}%6d MiB " +
        f"spillDisk=${diskSpill.get >> 20}%6d MiB " +
        f"peakTask=${peakExec.get >> 20}%5d MiB")
    }
    spark.stop()
  }
}
