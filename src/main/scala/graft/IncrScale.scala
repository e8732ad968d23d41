package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** Scale probe for the incremental-dedup production shape: the historical
  * minhash index is STORED (built once at ingest — `minhash_index_build`);
  * a daily batch pays only its own index build plus the cross-set probe.
  * The declared `dedup_incremental_minhash` query builds BOTH sides inline
  * because the testdata ships no index table; this main measures the
  * decomposition so SCALE.md can report what a deployment actually pays
  * per batch.
  *
  * Usage: IncrScale <sfDir> <indexDir>
  */
object IncrScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: IncrScale <sfDir> <indexDir>")
    val (sfDir, indexDir) = (args(0), args(1))
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[incr-scale] $label ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val docs = Tables.load(spark, sfDir, "documents")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)

    // Ingest time, paid once per corpus: build + store the history index.
    timed("hist index build+write (ingest-time, once)") {
      VectorOps.minhashIndex(hist, numHashes = 32)
        .write.mode("overwrite").parquet(indexDir)
    }

    // Per-batch cost: batch index + cross-set probe against the stored
    // index columns (no history re-shingle).
    val drops = timed("batch index + cross-set probe (per-batch cost)") {
      val batchIdx = VectorOps.minhashIndex(batch, numHashes = 32)
      val histIdx = spark.read.parquet(indexDir)
      val out = VectorOps.minhashIncrementalDups(batchIdx, histIdx,
        numHashes = 32, bands = 8, jaccardThreshold = 0.4)
      val n = out.count()
      n
    }
    println(s"[incr-scale] drop rows: $drops")
    spark.stop()
  }
}
