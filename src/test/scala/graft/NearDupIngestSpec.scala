package graft

import graft.operators.VectorOps
import graft.sources.TxLog
import org.apache.spark.sql.functions._

/** Laws for the streaming near-dedup ingest composition (round 15,
  * VERDICT r14 next-item 6): incremental MinHash against the stored
  * survivor index, exactly-once survivor MERGE + index APPEND, poison
  * dead-lettering, and kill/restart convergence.
  */
class NearDupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val doc1 = "the quick brown fox jumps over the lazy dog today"
  private val doc2 = "the quick brown fox jumps over the lazy cat today"
  private val doc3 =
    "completely different text about spark structured streaming engines"
  private val doc6 =
    "another unrelated document mentioning inverted index maintenance pipelines"
  private val doc8 = doc6 + " plus extra"
  private val doc9 = "fresh content entirely new subject matter here nine"

  private def tmp(prefix: String): String =
    ScratchDir.create(prefix)

  private def writeFeed(feed: String, name: String,
      rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$feed/$name")

  private def stream(feed: String) = spark.readStream
    .schema("doc_id BIGINT, text STRING")
    .option("maxFilesPerTrigger", 1)
    .parquet(s"$feed/*")

  private def run(feed: String, root: String, appId: String): Unit =
    streaming.Streams.nearDupIngestSink(spark, stream(feed),
      s"$root/survivors", s"$root/index", s"$root/dead",
      s"$root/ckpt", appId).awaitTermination()

  private def survivorIds(root: String): Seq[Long] =
    TxLog.snapshot(spark, s"$root/survivors")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("streaming near-dedup: converges across batches + restart, " +
      "poison dead-letters, no near-dup pair among survivors") {
    val feed = tmp("graft_ndi_feed")
    val root = tmp("graft_ndi_root")
    // Batch 1: near-dup pair (1, 2) in-batch, a distinct doc, a poison.
    writeFeed(feed, "b1", Seq(1L -> doc1, 2L -> doc2, 3L -> doc3,
      4L -> "too short"))
    // Batch 2: exact clone of history (5 ~ 1), a fresh doc, a null text.
    writeFeed(feed, "b2", Seq(5L -> doc1, 6L -> doc6,
      7L -> null.asInstanceOf[String]))
    run(feed, root, "ndi-app")
    assert(survivorIds(root) == Seq(1L, 3L, 6L))
    val dead = spark.read.parquet(s"$root/dead")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(dead == Seq(4L, 7L), s"dead letters: $dead")

    // RESTART from the same checkpoint with one more batch: 8 is a
    // near-dup of stored survivor 6 (shingle containment 6/8 = 0.75),
    // 9 is fresh.
    writeFeed(feed, "b3", Seq(8L -> doc8, 9L -> doc9))
    run(feed, root, "ndi-app")
    assert(survivorIds(root) == Seq(1L, 3L, 6L, 9L))

    // The survivor index carries exactly the survivors, and NO pair of
    // survivors is a near-dup at the pipeline's own threshold.
    val idx = TxLog.snapshot(spark, s"$root/index")
    assert(idx.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 6L, 9L))
    val pairs = VectorOps.minhashPairsFromIndex(idx, numHashes = 32,
      bands = 8, jaccardThreshold = 0.4)
    assert(pairs.count() == 0, "near-dup pair among survivors")

    // Idle re-run (no new files): nothing changes.
    run(feed, root, "ndi-app")
    assert(survivorIds(root) == Seq(1L, 3L, 6L, 9L))
  }

  test("hot clone bucket beyond the band-join cap: a 300-clone batch " +
      "collapses to one survivor via the exact stage") {
    // 300 byte-identical texts collide in EVERY band — past the 256
    // bucketCap the banded self-pairs star-collapse; the round-15
    // exact-collapse stage must drop all non-min members regardless.
    val feed = tmp("graft_ndi_feed3")
    val root = tmp("graft_ndi_root3")
    writeFeed(feed, "b1",
      (1L to 300L).map(i => i -> doc1) :+ (400L -> doc3))
    run(feed, root, "ndi-app3")
    assert(survivorIds(root) == Seq(1L, 400L))
    assert(TxLog.snapshot(spark, s"$root/index").count() == 2)
  }

  test("mid-chain crash replay: merge already applied, append completes; " +
      "fresh-checkpoint replay of an applied batch is a whole no-op") {
    val feed = tmp("graft_ndi_feed2")
    val root = tmp("graft_ndi_root2")
    writeFeed(feed, "b1", Seq(1L -> doc1, 2L -> doc2, 3L -> doc3))
    // Simulate the crash state: the survivor MERGE for batch 0 committed,
    // the index APPEND did not. (Pre-create the tables the way the sink
    // would, then apply the merge under the sink's (appId, batchId).)
    TxLog.create(spark, s"$root/survivors",
      org.apache.spark.sql.types.StructType
        .fromDDL("doc_id BIGINT, text STRING"),
      statsCol = Some("doc_id"))
    TxLog.create(spark, s"$root/index",
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, sig ARRAY<BIGINT>, shh ARRAY<BIGINT>"),
      statsCol = Some("doc_id"))
    TxLog.mergeBatch(spark,  s"$root/survivors",
      Seq(1L -> doc1, 3L -> doc3).toDF("doc_id", "text"),
      "doc_id", "ndi-app2", 0L)

    // The restarted stream replays batch 0: the drop set recomputes
    // identically (the stored index did not advance), the merge skips as
    // a replay, the append completes the chain.
    run(feed, root, "ndi-app2")
    assert(survivorIds(root) == Seq(1L, 3L))
    assert(TxLog.snapshot(spark, s"$root/index")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    // Survivor rows exist ONCE (merge did not double-apply).
    assert(TxLog.snapshot(spark, s"$root/survivors").count() == 2)

    // A FRESH checkpoint replay of the same feed under the same appId:
    // batch 0 re-frames as 0, the index-mark gate skips it whole.
    val v1 = (TxLog.latestVersion(s"$root/survivors"),
      TxLog.latestVersion(s"$root/index"))
    streaming.Streams.nearDupIngestSink(spark, stream(feed),
      s"$root/survivors", s"$root/index", s"$root/dead",
      tmp("graft_ndi_ckpt_fresh"), "ndi-app2").awaitTermination()
    assert((TxLog.latestVersion(s"$root/survivors"),
      TxLog.latestVersion(s"$root/index")) == v1,
      "fresh-checkpoint replay committed something")
    assert(survivorIds(root) == Seq(1L, 3L))
  }
}
