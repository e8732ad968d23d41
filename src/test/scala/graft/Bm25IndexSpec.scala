package graft

import graft.operators.{AnnOps, CorpusOps, CurationOps3, IndexOps}
import org.apache.spark.sql.functions._

/** Laws for the index-backed BM25 serve (round 14): the stored
  * inverted-index path must reproduce the tokenize path bit-for-bit —
  * per (query, doc) score, through a parquet round-trip of the index +
  * norms (the production shape), and through the hybrid fusion.
  */
class Bm25IndexSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  private def queryTerms = {
    import spark.implicits._
    Seq((0L, "hash"), (0L, "join"), (0L, "vector"),
      (1L, "hash"), (1L, "spark"),
      (2L, "window")).toDF("query_id", "term")
  }

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "doc_id", "bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq

  test("index-backed batch == tokenize batch, per (query, doc) score") {
    val direct = collected(
      CorpusOps.bm25ScoresBatch(docs, queryTerms))
    val indexed = collected(CorpusOps.bm25FromIndexBatch(
      CurationOps3.invertedIndex(docs), CorpusOps.docNorms(docs),
      queryTerms))
    assert(indexed.nonEmpty && indexed == direct)
  }

  test("stored parquet round-trip of index + norms is identical") {
    val tmp = ScratchDir.create("graft_bm25idx")
    CurationOps3.invertedIndex(docs)
      .write.mode("overwrite").parquet(s"$tmp/inv")
    CorpusOps.docNorms(docs)
      .write.mode("overwrite").parquet(s"$tmp/norms")
    val stored = collected(CorpusOps.bm25FromIndexBatch(
      spark.read.parquet(s"$tmp/inv"), spark.read.parquet(s"$tmp/norms"),
      queryTerms))
    val inline = collected(CorpusOps.bm25FromIndexBatch(
      CurationOps3.invertedIndex(docs), CorpusOps.docNorms(docs),
      queryTerms))
    assert(stored.nonEmpty && stored == inline)
  }

  test("declared bm25_topk_indexed == declared bm25_topk rows") {
    val a = CorpusOps.bm25TopK.fn(spark, sfDir).collect().toSeq
    val b = CorpusOps.bm25TopKIndexed.fn(spark, sfDir)
      .collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("doc-delta upsert with CHANGED texts == full rebuild of the " +
      "final corpus (stale postings tombstoned, not double-counted)") {
    // Final corpus: every doc_id % 11 == 0 doc REWRITTEN with different
    // text (tokens injected so the stale postings would shift scores if
    // they survived), everything else unchanged.
    val rewritten = docs.withColumn("text",
      when(col("doc_id") % 11 === 0,
        concat(lit("hash join vector "), col("text")))
        .otherwise(col("text")))
    // Incremental path: base index over the ORIGINAL corpus, then the
    // changed docs (their NEW texts) upserted as a delta.
    val changed = rewritten.filter(col("doc_id") % 11 === 0)
    val (idx, norms) = IndexOps.upsertSegments(
      CurationOps3.invertedIndex(docs), CorpusOps.docNorms(docs), changed)
    val incremental = collected(
      CorpusOps.bm25FromIndexBatch(idx, norms, queryTerms))
    val rebuilt = collected(CorpusOps.bm25FromIndexBatch(
      CurationOps3.invertedIndex(rewritten),
      CorpusOps.docNorms(rewritten), queryTerms))
    assert(incremental.nonEmpty && incremental == rebuilt)
    // And a physical compaction of the segment union serves the same.
    val evenRows = idx.filter(col("block_id") % 2 === 0)
    val oddRows = idx.filter(col("block_id") % 2 =!= 0)
    val compacted = collected(CorpusOps.bm25FromIndexBatch(
      IndexOps.mergeSegments(evenRows, oddRows), norms, queryTerms))
    assert(compacted == rebuilt)
  }

  test("declared bm25_topk_delta == declared bm25_topk rows") {
    val a = CorpusOps.bm25TopK.fn(spark, sfDir).collect().toSeq
    val b = IndexOps.bm25TopKDelta.fn(spark, sfDir).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("hybrid fusion with the index-backed lexical arm is identical") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = AnnOps.fitAnnModel(spark, emb)
    val annIdx = AnnOps.annIndex(spark, emb, model)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def run(inv: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]) =
      IndexOps.hybridBlendBatch(spark, docs, emb, annIdx, model,
          queries, queryTerms, k = 10, invIndex = inv)
        .collect().toSeq
    val direct = run(None)
    val viaIndex = run(Some((CurationOps3.invertedIndex(docs),
      CorpusOps.docNorms(docs))))
    assert(direct.nonEmpty && direct == viaIndex)
  }
}
