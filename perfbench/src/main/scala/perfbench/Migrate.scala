package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.{Migration, Pipeline}
import graft.sources.{DocumentSink, ParquetSource, TableSource}

/** `migrate_batches`: one op is one `Pipeline.run` of a seeded `c_custkey`
  * range (a stand-in for a token range), with seeded starts and widths.
  * Customer and orders are read uncached from parquet; the transform is
  * the engine's `solr_doc_assembly` query (customer ⋈ orders with a
  * multivalued `collect_set`); the sink is [[MemorySink]] with the engine's
  * default batch size, one commit per batch. After each batch the
  * documents it sent must equal the DuckDB reference for the range: the
  * same ids, each once, and the same content hash. */
final class Migrate(a: Args, tr: Trace) extends Workload {
  private val dir = s"${a.data}/sf0.1"
  private val ref: Map[Long, Long] = Refs.rows(a.refs)
  private val nCust = ref.size
  private var s: SparkSession = _
  def spark: SparkSession = s

  private val source = new TableSource {
    def load(spark: SparkSession, conf: Map[String, String]): DataFrame =
      tr.span("sources.load")(ParquetSource.load(spark, conf))
  }
  private val sink = new DocumentSink {
    def save(df: DataFrame, conf: Map[String, String]): Unit =
      tr.span("sink.save")(MemorySink.save(df, conf))
  }

  def prepare(): Unit = Session.prepareLayout(a, dir)

  def setup(): Unit = {
    s = Session.start(a, tr, this)
    step("tables.layout_check", tr) {
      if (!Session.layoutFresh(s, dir))
        graft.Tables.materializeBuckets(s, dir)
    }
  }

  def teardown(): Unit = Session.stop(s)

  /** A warm set-up here is a session start and a layout check, about
    * 0.2 s: nine of them cost two seconds and steady their median, which
    * over three moved by a fifth between runs. */
  override def setups: Int = 9

  /** Four rounds of untimed batches at negative op indices: batches keep
    * getting faster for the first hundred or so in a fresh JVM (the first
    * are twice as slow as the 100th), and the timed ones should sit where
    * that curve flattens. */
  def warmup(): Unit = (1 to 4 * roundSize).foreach(k => batch(-k, rangeAt(-k)))

  /** A round is four batches whose widths are a seeded order of
    * [[widths]], so every run sends the same number of documents per
    * round. The widths are a free choice, not a measured trireme
    * token-range size: at sf0.1 they are 256 to 1792 customers, so a batch
    * fills one or two of the sink's default 1000-document transport
    * batches. */
  override def roundSize: Int = widths.size
  override def roundSeconds: Double = 3.0
  private val widths = Seq(1, 3, 5, 7).map(_ * math.min(256, nCust / 16))

  /** The seeded custkey range [lo, hi) of op `i`. */
  def rangeAt(i: Int): (Long, Long) = {
    val round = Math.floorDiv(i, widths.size)
    val width = new scala.util.Random(a.seed * 1000003L + round)
      .shuffle(widths).apply(Math.floorMod(i, widths.size))
    val lo = new scala.util.Random(a.seed * 1000003L + i).nextInt(nCust - width)
    (lo.toLong, lo.toLong + width)
  }

  /** The engine's `solr_doc_assembly` query narrowed to one custkey range;
    * Catalyst pushes the range through its join and group-by. The query
    * reads customer and orders itself, through `Tables.load` as
    * `ParquetSource` does, so the source's frame goes unused. */
  private def assemble(lo: Long, hi: Long)(customer: DataFrame): DataFrame =
    tr.span("operators.construct") {
      SparkEntry.queries("solr_doc_assembly")(s, dir)
        .filter(col("id") >= lo && col("id") < hi)
    }

  private def batch(i: Int, range: (Long, Long)): Op = {
    val (lo, hi) = range
    tr.op = i
    MemorySink.store.clear()
    val sent0 = MemorySink.docsSent.get
    val commits0 = MemorySink.commits.get
    val m = Migration(source, Map("table" -> "customer", "dir" -> dir),
      assemble(lo, hi), sink, Map("collection" -> "customers", "idField" -> "id"))
    val t0 = System.nanoTime()
    val n = tr.span("op")(tr.span("pipeline.run")(Pipeline.run(s, m)))
    val lat = System.nanoTime() - t0
    val sent = MemorySink.docsSent.get - sent0
    val commits = MemorySink.commits.get - commits0
    val ok = tr.span("harness.check") {
      // The store holds this batch's upserts only, so equal id sets plus
      // `sent` equal to their size means every document arrived once.
      val got = MemorySink.store.asScala
      val want = (lo until hi).flatMap(id => ref.get(id).map(id -> _)).toMap
      val h = got.values.map { d =>
        Content.rowHash(d.toSeq.sortBy(_._1).map(_._2))
      }.sum
      got.keySet == want.keySet.map(k => k: Any) && n == want.size &&
        sent == want.size && h == want.values.sum && commits == 1
    }
    if (!ok) System.err.println(s"[perfbench] wrong documents for [$lo, $hi)")
    Op(s"batch[$lo,$hi)", lat, ok, sent)
  }

  def op(i: Int): Op = batch(i, rangeAt(i))

  override def onTraceStart(): Unit = MemorySink.resetCounters()

  /** Sink counters of the traced ops: (batches, docs sent, distinct ids). */
  private var sinkCounts = (0L, 0L, 0L)
  override def onTraceEnd(): Unit = sinkCounts = (MemorySink.batches.get,
    MemorySink.docsSent.get, MemorySink.docsUnique)

  override def layerMetrics(n: Int): Map[String, Double] = {
    val run = tr.totalMs("pipeline.run")
    val save = tr.totalMs("sink.save")
    val construct = tr.totalMs("operators.construct") +
      tr.spans.filter(_.name == "sources.load").filter { sp =>
        tr.spans.exists(p => p.id == sp.parent && p.name == "pipeline.run")
      }.map(_.durNs).sum / 1e6
    Map(
      "pipeline.run_ms" -> run / n,
      "pipeline.save_ms" -> save / n,
      "pipeline.recount_ms" -> (run - save - construct) / n,
      "sink.batches" -> sinkCounts._1.toDouble / n,
      "sink.docs_sent" -> sinkCounts._2.toDouble / n,
      "sink.docs_unique" -> sinkCounts._3.toDouble / n)
  }

  def probes(): Map[String, Double] = Kernels.onCorpus(s, dir)
}
