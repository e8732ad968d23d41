package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AnnOps

/** The ANN calls the benchmark makes, shared by `dedup_vectors` and the
  * ANN probe of the traced `interactive_sf01` run. */
object Ann {
  val k = 10
  val nProbe = 3

  def serve(s: SparkSession, emb: DataFrame, index: DataFrame,
      model: AnnOps.AnnModel, queries: DataFrame): DataFrame =
    AnnOps.ivfPqKnnBatch(s, emb, index, model, queries, k = k, nProbe = nProbe)

  /** Exact cosine top-k of each query (query_id, qe) over `emb`, self
    * excluded, ranked like the ANN serve. */
  def exact(emb: DataFrame, queries: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  def listSizes(index: DataFrame): Map[Int, Long] =
    index.groupBy("list_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Corpus rows in the lists query vector `v` probes, minus the query
    * itself: the candidate pool the serve ranks by PQ distance. */
  def candidates(model: AnnOps.AnnModel, sizes: Map[Int, Long],
      v: Seq[Float]): Double =
    model.centroids.map { case (cid, c) =>
      (cid, c.indices.map(d => c(d) * v(d).toDouble).sum)
    }.sortBy(p => (-p._2, p._1)).take(nProbe)
      .map(p => sizes.getOrElse(p._1, 0L)).sum.toDouble - 1

  /** ANN layer timings on a corpus table (vec_id, embedding): index build
    * once, then the median of three serves and three exact top-k runs of
    * one seeded batch of 8 queries. */
  def probe(s: SparkSession, emb: DataFrame, seed: Long): Map[String, Double] = {
    def secs[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    val ((model, index), buildS) = secs {
      val m = AnnOps.fitAnnModel(s, emb)
      val ix = AnnOps.annIndex(s, emb, m).cache()
      ix.count()
      (m, ix)
    }
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val pick = new scala.util.Random(seed).shuffle(ids.toSeq).take(8)
    val queries = emb.filter(col("vec_id").isin(pick: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val serveMs = (1 to 3).map(_ => secs(serve(s, emb, index, model, queries)
      .collect())._2 * 1e3)
    val exactMs = (1 to 3).map(_ => secs(exact(emb, queries).collect())._2 * 1e3)
    val sizes = listSizes(index)
    val cands = queries.collect().map(r =>
      candidates(model, sizes, r.getSeq[Float](1)))
    index.unpersist()
    Map("ann.index_build_s" -> buildS,
      "ann.serve_ms" -> Main.median(serveMs),
      "ann.exact_ms" -> Main.median(exactMs),
      "ann.candidates_per_query" -> Main.median(cands.toSeq))
  }
}
