package graft.pipeline

import graft.sources.{DocumentSink, TableSource}
import java.util.concurrent.TimeoutException
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.concurrent.Await
import scala.concurrent.duration._

/** The trireme shape as a composable pipeline: scan a source system,
  * transform rows to search documents, bulk-load a sink — with batch and
  * micro-batch (streaming) execution over the same transform.
  *
  * In production the endpoints are `CassandraSource` → `SolrSink`
  * (offline stubs, see graft.sources); everything in between — and the
  * pipeline mechanics themselves — is connector-agnostic and exercised
  * with the parquet/CSV/JSON implementations in PipelineSpec.
  */
final case class Migration(
    source: TableSource,
    sourceConf: Map[String, String],
    transform: DataFrame => DataFrame,
    sink: DocumentSink,
    sinkConf: Map[String, String])

object Pipeline {

  /** How long a run waits for a row count observed on the sink's pass.
    * Observations complete through Spark's asynchronous listener bus,
    * normally within milliseconds of the pass; a sink that never ran its
    * frame leaves the count unset, and the run recounts after this wait. */
  private val ObservedWait = 2.seconds

  /** Batch run: load → transform → save, executing the transform once.
    * Returns rows written, counted by an `Observation` on the frame the
    * sink runs; only a sink that never runs its frame costs a recount. */
  def run(spark: SparkSession, m: Migration): Long = {
    val out = m.transform(m.source.load(spark, m.sourceConf))
    val (observed, rows) = observeCount(out)
    m.sink.save(observed, m.sinkConf)
    countOf(rows, out)
  }

  /** Batch run with a dead-letter channel — the migration-tool contract
    * that ONE malformed source row must never abort a bulk load, and every
    * diverted row stays accounted for. Rows failing `isValid` are written
    * (raw, untransformed) to `deadLetterPath` for replay after repair;
    * valid rows proceed through transform → sink. Returns
    * (rows written, rows diverted), each observed on the pass that wrote
    * the rows, as in [[run]].
    *
    * The canonical `isValid` for file ingest is
    * `col("_corrupt_record").isNull` over a PERMISSIVE-mode read
    * (PipelineSpec drives exactly that). The source is pinned in the cache
    * for the duration so the valid/invalid split reads one scan, not two.
    */
  def runWithDeadLetter(
      spark: SparkSession,
      m: Migration,
      isValid: org.apache.spark.sql.Column,
      deadLetterPath: String): (Long, Long) = {
    val src = m.source.load(spark, m.sourceConf).cache()
    try {
      val bad = src.filter(!isValid)
      val (observedBad, badRows) = observeCount(bad)
      observedBad.write.mode("append").parquet(deadLetterPath)
      val out = m.transform(src.filter(isValid))
      val (observed, rows) = observeCount(out)
      m.sink.save(observed, m.sinkConf)
      (countOf(rows, out), countOf(badRows, bad))
    } finally src.unpersist()
  }

  /** `df` with a fresh row-count observation attached. */
  private def observeCount(df: DataFrame): (DataFrame, Observation) = {
    val rows = Observation()
    (df.observe(rows, count(lit(1)).as("rows")), rows)
  }

  /** The count `rows` observed, or `df.count()` when no pass ran the
    * observed frame within [[ObservedWait]]. */
  private def countOf(rows: Observation, df: DataFrame): Long =
    try Await.result(rows.future, ObservedWait).getLong(0)
    catch { case _: TimeoutException => df.count() }

  /** Micro-batch run: the same transform applied incrementally, one bulk
    * sink commit per micro-batch (the Solr indexing shape, I7). The caller
    * provides the streaming source DataFrame (e.g. Streams.eventsStream). */
  def runStreaming(stream: DataFrame, m: Migration, checkpointDir: String)
      : StreamingQuery =
    graft.streaming.Streams.foreachBatchSink(
      m.transform(stream), checkpointDir) { (batch, _) =>
      m.sink.save(batch, m.sinkConf)
    }
}
