package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry, Tables}

/** `interactive_sf01`: one op builds one of the 20 headline keys with
  * `SparkEntry.queries(k)(spark, dir)` and runs `count()` on it, over the
  * sf0.1 corpus pinned in Spark's columnar cache. A round is one pass over
  * the 20 keys, in an order shuffled from the seed. The warm-up checks each
  * key's row count and content hash against its DuckDB oracle (refs file),
  * or keeps the engine's first result where the key has no oracle; every
  * timed op's row count must then match, and a content mismatch in the
  * warm-up fails every op of the run. */
final class Interactive(a: Args, tr: Trace) extends Workload {
  private val dir = s"${a.data}/sf0.1"
  private val keys = Bench.headline
  private val refs: Map[String, (Long, Long)] = Refs.keyed(a.refs)
  /** key → (rows, content hash) the warm-up pass verified. */
  private val checked = mutable.Map.empty[String, (Long, Long)]
  private var warmupFailures = 0
  private var s: SparkSession = _
  def spark: SparkSession = s
  override def roundSize: Int = keys.size
  override def roundSeconds: Double = 7.0

  def prepare(): Unit = Session.prepareLayout(a, dir)

  def setup(): Unit = {
    s = Session.start(a, tr, this)
    step("tables.layout_check", tr) {
      if (!Session.layoutFresh(s, dir)) Tables.materializeBuckets(s, dir)
    }
    step("tables.cache_pin", tr) {
      Tables.schemas.keys.toSeq.sorted.foreach { t =>
        Tables.load(s, dir, t).cache().count()
      }
    }
  }

  def teardown(): Unit = Session.stop(s)

  /** Untimed: builds every key and collects its result, checking the row
    * count and content hash; timed ops then check their row counts against
    * it. The pass is also the warm-up. It runs two keys at a time, so one
    * key's planning overlaps another's tasks and the pass costs less of
    * the run's time budget; the timed ops stay one closed-loop client. */
  def warmup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val results = keys.map { key =>
        key -> pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
          def call(): (Long, Long) = {
            val df = SparkEntry.queries(key)(s, dir)
            Content.of(df.columns.toSeq, df.collect().toSeq)
          }
        })
      }
      results.foreach { case (key, result) =>
        val got = result.get()
        checked(key) = refs.getOrElse(key, got)
        if (got != checked(key)) {
          System.err.println(s"[perfbench] wrong result for $key")
          warmupFailures += 1
        }
      }
    } finally pool.shutdown()
  }

  def keyAt(i: Int): String = {
    val pass = Math.floorDiv(i, keys.size)
    val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(keys)
    order(Math.floorMod(i, keys.size))
  }

  def op(i: Int): Op = {
    val key = keyAt(i)
    tr.op = i
    val t0 = System.nanoTime()
    val n = tr.span("op") {
      val df = tr.span("operators.construct")(SparkEntry.queries(key)(s, dir))
      tr.span("exec.action")(df.count())
    }
    val lat = System.nanoTime() - t0
    val ok = warmupFailures == 0 && n == checked(key)._1
    if (!ok) System.err.println(s"[perfbench] wrong row count for $key (op $i)")
    Op(key, lat, ok, n)
  }

  /** Kernel timings plus the ANN probe, both on the sf0.1 corpus. */
  def probes(): Map[String, Double] =
    Kernels.onCorpus(s, dir) ++
      Ann.probe(s, Tables.load(s, dir, "embeddings"), a.seed)
}

/** Prints the DuckDB oracle SQL of the interactive keys (and of the
  * document assembly the migration runs) as one JSON object, for
  * refs.py. Builds no session. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val keys = Bench.headline :+ "solr_doc_assembly"
    println(keys.flatMap(k => sql.get(k).map(q => s"${Json.str(k)}:${Json.str(q)}"))
      .mkString("{", ",", "}"))
  }
}
