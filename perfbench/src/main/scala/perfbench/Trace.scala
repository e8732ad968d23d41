package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer of the engine, with the
  * listener counters (jobs, tasks, plan phase ms, ...) that moved during
  * it. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def durNs: Long = endNs - startNs
  def count(k: String): Double = counters.getOrElse(k, 0.0)
  def planMs: Double = Trace.phases.map(p => count(s"phase.$p")).sum
}

/** In-memory span recorder. Off, `span` is a plain call; on, it records
  * name, start, end, parent span and op id, and — once a listener is
  * attached — the counter deltas of the span, read after draining the
  * listener bus at both ends. The client is one thread, so the parent is
  * the innermost open span. Spans are written out when the run ends. */
final class Trace(enabled: Boolean) {
  var on: Boolean = enabled
  var listener: Option[ExecListener] = None
  var op: Long = -1L
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1

  private def snap(): Map[String, Double] = listener match {
    case Some(l) => l.snapshot()
    case None => Map.empty
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val before = snap()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = snap()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        done += Span(id, parent, name, op, t0, t1, delta)
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  private def named(name: String) = done.iterator.filter(_.name == name)

  /** Summed duration of every span with this name, in ms. */
  def totalMs(name: String): Double = named(name).map(_.durNs).sum / 1e6

  /** Summed counter `k` over the spans with this name. */
  def total(name: String, k: String): Double = named(name).map(_.count(k)).sum

  /** Number of spans with this name whose counter `k` moved. */
  def moved(name: String, k: String): Int = named(name).count(_.count(k) > 0)

  /** Self time per span name in ms, over the spans under op spans: each
    * span's duration minus what its child spans cover, and minus the
    * Catalyst phase time of actions that ran in its own part; that phase
    * time is reported under `plans`. */
  def selfMs: Map[String, Double] = {
    val byId = done.map(s => s.id -> s).toMap
    def underOp(s: Span): Boolean =
      s.name == "op" || (s.parent != 0 && byId.get(s.parent).exists(underOp))
    val inOps = done.filter(underOp)
    val kids = inOps.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    inOps.foreach { s =>
      val ch = kids.getOrElse(s.id, Nil)
      val planSelf = s.planMs - ch.map(_.planMs).sum
      out(s.name) += (s.durNs - ch.map(_.durNs).sum) / 1e6 - planSelf
      out("plans") += planSelf
    }
    out.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  val phases: Seq[String] = Seq("analysis", "optimization", "planning")

  /** Layers of the self-time table and the span names each one owns. */
  val selfLayers: Seq[(String, Seq[String])] = Seq(
    "operators" -> Seq("operators.construct"),
    "plans" -> Seq("plans"),
    "exec" -> Seq("exec.action"),
    "pipeline" -> Seq("pipeline.run"),
    "sources" -> Seq("sources.load"),
    "sink" -> Seq("sink.save"),
    "ann" -> Seq("ann.serve", "ann.exact"),
    "dedup" -> Seq("dedup.pass"),
    "harness" -> Seq("op"))
}

/** Listener for job, stage and task events plus the Catalyst phases of
  * every action (`QueryExecution.tracker`). Registered in traced runs
  * only. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile var peakExecMem = 0L
  @volatile var failedTasks = 0L

  def snapshot(): Map[String, Double] = {
    ExecListener.drain(sc)
    synchronized(c.toMap)
  }
  private var sc: SparkContext = _

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c("exec.jobs") += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c("exec.stages") += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("exec.tasks") += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c("exec.run_ms") += m.executorRunTime
      c("exec.cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("exec.input_bytes") += m.inputMetrics.bytesRead
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      c("exec.scheduler_delay_ms") += math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val cached = qe.withCachedData.collectWithSubqueries {
      case r: InMemoryRelation => r
    }.nonEmpty
    synchronized {
      c("actions") += 1
      qe.tracker.phases.foreach { case (p, s) =>
        c(s"phase.$p") += (s.endTimeMs - s.startTimeMs).toDouble
      }
      if (cached) c("cache_actions") += 1
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object ExecListener {
  def register(spark: SparkSession): ExecListener = {
    val l = new ExecListener
    l.sc = spark.sparkContext
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def unregister(spark: SparkSession, l: ExecListener): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }

  /** Wait until every posted listener event has been delivered, so the
    * counters read after a call include that call. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
