package graft.scale

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, CurationOps3, IndexOps}

/** Incremental inverted-index maintenance rung (round 15, VERDICT r14
  * next-item 4): at the 5 M-doc replica tier, a 1 % doc delta must ingest
  * in a small fraction of the ~91 s full rebuild, and the composed serve
  * (stored base segment + tombstone mask + delta segment) must score
  * identically to a full rebuild of the final corpus.
  *
  * Stored shape measured here (the Lucene schedule as parquet tables):
  *  - base postings + norms written once (the pay-once ingest);
  *  - a delta batch (half UPDATED texts of existing ids, half new ids)
  *    ingests as: tokenize ONLY the delta → new segment + norms delta,
  *    plus the changed-id tombstone list — nothing of the base rewrites;
  *  - serve = deleteFromIndex(base, tombstones) ∪ delta — the tombstone
  *    mask is a broadcast join that rewrites postings only for blocks
  *    containing changed ids, IN THE PLAN, at serve time;
  *  - compaction (IndexOps.upsertSegments → write) folds the mask in
  *    physically on the maintenance schedule.
  *
  * Usage: Bm25DeltaProbe [sfDir] [outDir]
  */
object Bm25DeltaProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx1000")
    val out = args.drop(1).headOption.getOrElse("/tmp/bm25delta")
    val spark = graft.GraftSession.local(64).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bm25delta] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val nDocs = docs.count()

    // ---- pay-once full ingest (the 91.2 s r14 baseline) ----
    timed(s"full ingest ($nDocs docs)") {
      CurationOps3.invertedIndex(docs)
        .write.mode("overwrite").parquet(s"$out/base/inv")
      CorpusOps.docNorms(docs)
        .write.mode("overwrite").parquet(s"$out/base/norms")
    }

    // ---- the 1 % delta: updates (rewritten text) + inserts ----
    val updates = docs.filter(col("doc_id") % 200 === 0)
      .withColumn("text", concat(lit("hash join vector "), col("text")))
    // Fresh ids STRICTLY ABOVE the corpus id space (replica-tier ids are
    // sparse up to ~1e11 — a small fixed offset collides; measured here:
    // 24,975 of 25,000 "+1e8" inserts landed on live ids and corrupted
    // every df).
    val inserts = docs.filter(col("doc_id") % 200 === 100)
      .withColumn("doc_id", col("doc_id") + lit(200000000000L))
    val delta = updates.unionByName(inserts)
    println(s"[bm25delta] delta rows = ${delta.count()} " +
      s"(${updates.count()} updates, ${inserts.count()} inserts)")

    timed("delta ingest (segment+tombstones)") {
      CurationOps3.invertedIndex(delta)
        .write.mode("overwrite").parquet(s"$out/seg2/inv")
      CorpusOps.docNorms(delta)
        .write.mode("overwrite").parquet(s"$out/seg2/norms")
      updates.select("doc_id")
        .write.mode("overwrite").parquet(s"$out/tombstones")
    }

    // ---- serve equality: composed stored serve == full rebuild ----
    val qt = Seq((0L, "hash"), (0L, "join"), (0L, "vector"))
      .toDF("query_id", "term")
    val composed = timed("composed serve (base+mask+delta)") {
      val base = spark.read.parquet(s"$out/base/inv")
      val tombs = spark.read.parquet(s"$out/tombstones")
      val idx = IndexOps.deleteFromIndex(base, tombs)
        .unionByName(spark.read.parquet(s"$out/seg2/inv"))
      val norms = spark.read.parquet(s"$out/base/norms")
        .join(tombs, Seq("doc_id"), "left_anti")
        .unionByName(spark.read.parquet(s"$out/seg2/norms"))
      CorpusOps.bm25FromIndexBatch(idx, norms, qt)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .collect().toSeq
    }
    val rebuilt = timed("full-rebuild serve (control)") {
      val finalCorpus = docs.filter(col("doc_id") % 200 =!= 0)
        .unionByName(delta)
      CorpusOps.bm25FromIndexBatch(
          CurationOps3.invertedIndex(finalCorpus),
          CorpusOps.docNorms(finalCorpus), qt)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .collect().toSeq
    }
    println(s"[bm25delta] composed == rebuilt: ${composed == rebuilt}")
    require(composed == rebuilt, "serve mismatch")
    spark.stop()
  }
}
