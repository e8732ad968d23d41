package perfbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py for the user-facing
  * flags; this is what run.py passes to the JVM, every key always). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, refs: String, cores: Int,
    ops: Int, report: String, small: Boolean, traces: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("refs"),
      need("cores").toInt, need("ops").toInt, need("report"),
      need("small") == "1", need("traces"))
  }
}

/** The timed part of one op and what its output check found. `docs` is the
  * documents the op delivered (sink acknowledgements, result rows or
  * inputs processed — see each workload). */
final case class Op(name: String, latencyNs: Long, ok: Boolean, docs: Long,
    recall: Double = 1.0)

/** One workload: set-up that can be repeated, a warm-up, and a seeded,
  * closed-loop sequence of ops. */
trait Workload {
  /** Full set-ups per run; `setup_s` is their median. The first in a run
    * starts the JVM's Spark classes cold and is always the slowest. */
  def setups: Int = 3
  /** Untimed: anything that must exist before the set-up clock starts. */
  def prepare(): Unit
  /** One full set-up, timed as `setup_s`. */
  def setup(): Unit
  /** Undo `setup` so it can run again. */
  def teardown(): Unit
  /** Untimed warm-up after the last set-up. */
  def warmup(): Unit
  /** Op `i` of the seeded sequence. */
  def op(i: Int): Op
  /** Ops per round; a run always holds whole rounds of a fixed mix. */
  def roundSize: Int = 1
  /** Nominal time of one round at local[2] on a 4-vCPU box. A window of
    * `--seconds` holds `--seconds / roundSeconds` rounds (rounded, at
    * least one) however fast the host runs: a window closed by the clock
    * held a different number of rounds on a fast and on a slow host, and
    * on a shared host that alone moved the metrics between runs. */
  def roundSeconds: Double
  def spark: SparkSession
  /** Workload-specific per-layer metrics for the traced ops. */
  def layerMetrics(nOps: Int): Map[String, Double] = Map.empty
  /** True when ops return approximate answers, measured by `recall_at_10`. */
  def approximate: Boolean = false
  /** Called once before the traced ops start, and once after they end. */
  def onTraceStart(): Unit = ()
  def onTraceEnd(): Unit = ()
  /** Layer probes on this workload's own inputs: kernel timings, and the
    * ANN layer where the workload has no ANN ops (traced run only). */
  def probes(): Map[String, Double]
  /** Set-up time per named step, one entry per set-up. */
  val setupSteps: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.Map.empty
  def stepMedian(name: String): Double =
    Main.median(setupSteps.get(name).map(_.toSeq).getOrElse(Nil))
  def step[T](name: String, tr: Trace)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tr.span(name)(body)
    setupSteps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
    r
  }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val tr = new Trace(a.trace)
    val wl: Workload = a.workload match {
      case "interactive_sf01" => new Interactive(a, tr)
      case "migrate_batches" => new Migrate(a, tr)
      case "dedup_vectors" => new DedupVectors(a, tr)
      case other => sys.error(s"unknown workload $other")
    }
    val out = run(a, tr, wl)
    println(out)
    System.out.flush()
    wl.spark.stop()
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile of `xs` (q in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Harrell–Davis estimate of the q-quantile of `xs`: a weighted mean of
    * all order statistics, the i-th weighted by the Beta((n+1)q, (n+1)(1-q))
    * mass over [i/n, (i+1)/n]. On the few tens of ops a run holds it
    * varies about half as much between runs as a single interpolated
    * order statistic, which jumps whenever two keys near the quantile swap
    * places. The weights are integrated numerically (midpoint rule) and
    * normalised, so no Beta function is needed. */
  def harrellDavis(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      val steps = 2000
      val logPdf = Array.tabulate(n * steps) { k =>
        val x = (k + 0.5) / (n * steps)
        (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
      }
      val top = logPdf.max
      val w = Array.tabulate(n) { i =>
        (i * steps until (i + 1) * steps).map(k => math.exp(logPdf(k) - top)).sum
      }
      w.indices.map(i => w(i) * s(i)).sum / w.sum
    }
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap still in use after a full collection: what the engine keeps
    * (cached tables, caches, session state), free of the GC's sizing. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner drops the broadcast blocks of finished plans
    // on its own thread only after a GC found them unreachable: collect,
    // let it run, then collect what it released.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Run `n` ops from index `from` in the closed loop; an op that throws
    * counts as failed. */
  private def loop(wl: Workload, from: Int, n: Int)(each: Op => Unit): Int = {
    (from until from + n).foreach { i =>
      val t0 = System.nanoTime()
      each(try wl.op(i) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] op $i failed: $e")
          Op("failed", System.nanoTime() - t0, ok = false, docs = 0,
            recall = 0.0)
      })
    }
    from + n
  }

  /** Ops in a window of `seconds`: whole rounds, see `roundSeconds`. */
  private def windowOps(wl: Workload, seconds: Double): Int =
    math.max(1L, math.round(seconds / wl.roundSeconds)).toInt * wl.roundSize

  private val started = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(String.format(Locale.ROOT, "[perfbench] %7.2f s  %s",
      Double.box((System.nanoTime() - started) / 1e9), what))

  def run(a: Args, tr: Trace, wl: Workload): String = {
    phase("start")
    wl.prepare()
    phase("prepared")
    val setups = (1 to wl.setups).map { r =>
      val t0 = System.nanoTime()
      wl.setup()
      val t = (System.nanoTime() - t0) / 1e9
      if (r < wl.setups) wl.teardown()
      t
    }
    phase("set up: " + setups.map(t =>
      String.format(Locale.ROOT, "%.2f s", Double.box(t))).mkString(", "))
    tr.on = false
    wl.warmup()
    phase("warmed up")
    val ops = mutable.ArrayBuffer.empty[Op]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = metrics(k) = (v, u)

    if (!a.trace) {
      loop(wl, 0, if (a.ops > 0) a.ops else windowOps(wl, a.seconds))(ops += _)
      val lat = ops.map(_.latencyNs / 1e6).toSeq
      val busyS = lat.sum / 1e3
      put("setup_s", median(setups), "s")
      put("op_p50_ms", harrellDavis(lat, 0.5), "ms")
      put("op_p90_ms", harrellDavis(lat, 0.9), "ms")
      put("ops_per_s", ops.size / busyS, "1/s")
      put("docs_per_s", ops.map(_.docs).sum / busyS, "1/s")
      put("peak_rss_mb", peakRssMb(), "MB")
      put("live_heap_mb", liveHeapMb(), "MB")
      if (wl.approximate)
        put("recall_at_10", ops.map(_.recall).sum / ops.size, "ratio")
    } else {
      // The window runs in three parts: untraced, traced, untraced. The
      // listener is attached for the middle part only, and the untraced
      // parts on both sides of it bracket any warm-up drift, so their
      // ops_per_s against the traced part's is the tracing overhead.
      def part(k: Int) =
        if (a.ops > 0) math.max(1, k) else windowOps(wl, a.seconds / 3)
      val before, after = mutable.ArrayBuffer.empty[Op]
      val mid = loop(wl, 0, part(a.ops / 3))(before += _)
      val listener = ExecListener.register(wl.spark)
      wl.onTraceStart()
      tr.on = true
      tr.listener = Some(listener)
      val end = loop(wl, mid, part(a.ops / 3))(ops += _)
      ExecListener.drain(wl.spark.sparkContext)
      tr.on = false
      wl.onTraceEnd()
      ExecListener.unregister(wl.spark, listener)
      loop(wl, end, part(a.ops - 2 * (a.ops / 3)))(after += _)
      val untraced = before ++ after
      val n = math.max(ops.size, 1)
      def opsPerS(xs: Seq[Op]) = xs.size / (xs.map(_.latencyNs).sum / 1e9)
      put("session.start_s", wl.stepMedian("session.start"), "s")
      put("tables.layout_check_s", wl.stepMedian("tables.layout_check"), "s")
      put("tables.cache_pin_s", wl.stepMedian("tables.cache_pin"), "s")
      put("operators.construct_ms", tr.totalMs("operators.construct") / n,
        "ms")
      put("operators.construct_jobs",
        tr.total("operators.construct", "exec.jobs") / n, "count")
      Trace.phases.foreach { p =>
        put(s"plans.${p}_ms", tr.total("op", s"phase.$p") / n, "ms")
      }
      put("exec.action_ms", tr.totalMs("exec.action") / n, "ms")
      val perOp = Seq("jobs" -> "count", "stages" -> "count",
        "tasks" -> "count", "scheduler_delay_ms" -> "ms", "run_ms" -> "ms",
        "cpu_ms" -> "ms", "gc_ms" -> "ms", "input_bytes" -> "bytes",
        "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
        "spill_bytes" -> "bytes")
      perOp.foreach { case (k, u) =>
        put(s"exec.$k", tr.total("op", s"exec.$k") / n, u)
      }
      put("exec.peak_exec_mem_bytes", listener.peakExecMem.toDouble, "bytes")
      put("exec.failed_tasks", listener.failedTasks.toDouble, "count")
      put("cache.scan_ratio", tr.moved("op", "cache_actions").toDouble / n,
        "ratio")
      val layer = wl.layerMetrics(n) ++ wl.probes()
      Seq("ann.index_build_s" -> "s", "ann.serve_ms" -> "ms",
        "ann.exact_ms" -> "ms", "ann.candidates_per_query" -> "count",
        "pipeline.run_ms" -> "ms", "pipeline.save_ms" -> "ms",
        "pipeline.recount_ms" -> "ms", "sink.batches" -> "count",
        "sink.docs_sent" -> "count", "sink.docs_unique" -> "count",
        "functions.cosine_ns_per_pair" -> "ns",
        "functions.minhash_ns_per_doc" -> "ns",
        "functions.simhash_ns_per_doc" -> "ns",
        "functions.pq_adc_ns_per_code" -> "ns",
        "functions.md5_ns_per_row" -> "ns").foreach { case (k, u) =>
        put(k, layer.getOrElse(k, 0.0), u)
      }
      val self = tr.selfMs
      Trace.selfLayers.foreach { case (l, names) =>
        put(s"self.${l}_ms", names.map(self.getOrElse(_, 0.0)).sum / n, "ms")
      }
      val u = opsPerS(untraced.toSeq)
      val t = opsPerS(ops.toSeq)
      put("trace.untraced_ops_per_s", u, "1/s")
      put("trace.traced_ops_per_s", t, "1/s")
      put("trace.overhead_ops_per_s", u - t, "1/s")
      ops.prependAll(before)
      ops ++= after
      val spansPath = java.nio.file.Paths.get(a.traces,
        s"spans-${a.workload}-${a.seed}.jsonl")
      tr.write(spansPath)
      System.err.println(selfTable(a.workload, metrics))
    }
    phase("measured")
    val failed = ops.count(!_.ok)
    if (a.report.nonEmpty) writeReport(a, ops.toSeq, metrics)
    System.err.println(String.format(Locale.ROOT,
      "[perfbench] %s seed=%d ops=%d failed=%d error_rate=%.4f",
      a.workload, Long.box(a.seed), Int.box(ops.size), Int.box(failed),
      Double.box(if (ops.isEmpty) 1.0 else failed.toDouble / ops.size)))
    Json.result(failed == 0 && ops.nonEmpty, ops.size, failed, metrics.toSeq)
  }

  private def selfTable(w: String,
      m: mutable.LinkedHashMap[String, (Double, String)]): String = {
    val rows = m.toSeq.filter(_._1.startsWith("self.")).map { case (k, (v, _)) =>
      String.format(Locale.ROOT, "  %-22s %10.3f", k.stripPrefix("self."),
        Double.box(v))
    }
    (s"[perfbench] self time per op by layer, $w (ms):" +: rows).mkString("\n")
  }

  private def writeReport(a: Args, ops: Seq[Op],
      m: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val opsJson = ops.map { o =>
      s"""{"name":${Json.str(o.name)},"ok":${o.ok},"docs":${o.docs},""" +
        s""""latency_ms":${Json.num(o.latencyNs / 1e6)}}"""
    }.mkString("[", ",", "]")
    val p = java.nio.file.Paths.get(a.report)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      (s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
        s""""ops":$opsJson,"metrics":${Json.metrics(m.toSeq)}}""")
        .getBytes("UTF-8"))
  }
}

/** JSON rendering. Numbers never go through a locale-sensitive
  * formatter: `BigDecimal.toPlainString` is the same in every locale. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""

  def metrics(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}"""
    }.mkString("{", ",", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[(String, (Double, String))]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${metrics(ms)}}"""
}
