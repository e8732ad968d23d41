package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.LessThan
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.operators.{AnnOps, VectorOps}

/** SimilarityRewrite optimizer rule: the promised Catalyst rewrite of the
  * naive O(n²) cosine top-k pair join into the SRP-LSH candidate join
  * (SURVEY §4.3). Above the size threshold the all-pairs theta join must
  * vanish from the optimized plan and results must equal the direct LSH
  * pipeline; below it the exact plan must be untouched. */
class RewriteSpec extends SparkSpec {

  private val thresholdKey = "spark.graft.similarity.rewrite.sizeThreshold"

  /** The naive shape a user writes: all-pairs join + cosine sort + limit.
    * cosine_sim resolves via GraftExtensions (the shared test session). */
  private def bruteTopK(k: Int): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(call_function("cosine_sim", col("ea"), col("eb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(k)
  }

  private def thetaJoins(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.isInstanceOf[LessThan]) => j
    }

  test("above threshold: all-pairs join is rewritten to the LSH candidate join") {
    spark.conf.set(thresholdKey, "1")
    try {
      val df = bruteTopK(50)
      assert(thetaJoins(df).isEmpty,
        "the a_id < b_id theta join must be rewritten away")
      val direct = AnnOps.lshTopKPairs(spark,
        Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")), 50).collect()
      assert(df.collect().toSeq == direct.toSeq,
        "rewritten results must equal the direct LSH pipeline")
    } finally spark.conf.unset(thresholdKey)
  }

  test("below threshold: the exact plan and results are untouched") {
    val df = bruteTopK(50)
    assert(thetaJoins(df).nonEmpty, "exact all-pairs join must be kept")
    val exact = VectorOps.similarityTopKPairs(spark,
      Tables.load(spark, sfDir, "embeddings"), 50).collect()
    assert(df.collect().toSeq == exact.toSeq,
      "below-threshold results must stay exact (equal the kernel)")
  }

  test("untrusted stats (in-memory LogicalRDD sentinel) are never rewritten") {
    // createDataFrame has no computable stats: it reports the
    // spark.sql.defaultSizeInBytes sentinel (Long.MaxValue), which is
    // ABOVE any threshold — without the sentinel gate this tiny exact
    // query would silently become approximate LSH (ADVICE r2, medium).
    spark.conf.set(thresholdKey, "1")
    try {
      val rows = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")).limit(20).collect()
      val local = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
        Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")).schema)
      val a = local.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = local.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      val df = a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(call_function("cosine_sim", col("ea"), col("eb")), 6).as("sim"))
        .orderBy(col("sim").desc, col("a_id"), col("b_id"))
        .limit(5)
      assert(thetaJoins(df).nonEmpty,
        "sentinel-stat plans must keep the exact all-pairs join")
    } finally spark.conf.unset(thresholdKey)
  }

  test("bare (unrounded) cosine sort key is not rewritten") {
    // The LSH pipeline emits round(sim, 6); splicing it under a bare
    // cosine projection would silently round a column the user projected
    // raw (ADVICE r2) — the match is restricted to the Round shape.
    spark.conf.set(thresholdKey, "1")
    try {
      val e = Tables.load(spark, sfDir, "embeddings")
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      val df = a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          call_function("cosine_sim", col("ea"), col("eb")).as("sim"))
        .orderBy(col("sim").desc, col("a_id"), col("b_id"))
        .limit(10)
      assert(thetaJoins(df).nonEmpty,
        "bare-cosine top-k must keep the exact all-pairs join")
    } finally spark.conf.unset(thresholdKey)
  }

  test("secondary sort keys survive the rewrite (original Sort re-applied)") {
    spark.conf.set(thresholdKey, "1")
    try {
      val e = Tables.load(spark, sfDir, "embeddings")
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
      // User tie-break differs from LSH's fixed (sim desc, a_id, b_id).
      val df = a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(call_function("cosine_sim", col("ea"), col("eb")), 6).as("sim"))
        .orderBy(col("sim").desc, col("b_id").desc, col("a_id"))
        .limit(50)
      assert(thetaJoins(df).isEmpty, "still rewritten above threshold")
      val expected = AnnOps.lshTopKPairs(spark,
        Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")), 50)
        .orderBy(col("sim").desc, col("b_id").desc, col("a_id"))
        .collect()
      assert(df.collect().toSeq == expected.toSeq,
        "rewritten output must be ordered by the USER's sort keys")
    } finally spark.conf.unset(thresholdKey)
  }

  test("rewrite disabled by conf leaves the plan alone even above threshold") {
    spark.conf.set(thresholdKey, "1")
    spark.conf.set("spark.graft.similarity.rewrite.enabled", "false")
    try assert(thetaJoins(bruteTopK(50)).nonEmpty)
    finally {
      spark.conf.unset(thresholdKey)
      spark.conf.unset("spark.graft.similarity.rewrite.enabled")
    }
  }

  // ---- DistinctBitmapRewrite ----

  private val dThresholdKey = "spark.graft.distinct.rewrite.sizeThreshold"

  private def countDistinctDf: DataFrame =
    Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")

  private def hasDistinctAgg(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("count(distinct")

  test("count-distinct rewrites to bitmap buckets above threshold, exactly") {
    val expected = countDistinctDf.collect() // default 1 GiB: untouched
    spark.conf.set(dThresholdKey, "1")
    try {
      val df = countDistinctDf
      val p = df.queryExecution.optimizedPlan.toString
      assert(!hasDistinctAgg(df) && p.contains("bitmap_construct_agg") &&
        p.contains("bitmapCount"),
        "expected the bitmap two-level aggregate:\n" + p.take(800))
      assert(df.collect().toSeq == expected.toSeq,
        "bitmap rewrite must be EXACT")
    } finally spark.conf.unset(dThresholdKey)
  }

  test("bitmap rewrite is exact for negative ids and ignores NULLs") {
    import spark.implicits._
    // createDataFrame → untrusted stats sentinel; route through parquet so
    // the gate sees real stats.
    val tmp = ScratchDir.create("graft_bmneg") + "/t"
    Seq((1L, Some(-5L)), (1L, Some(-5L)), (1L, Some(3L)), (2L, Some(-1L)),
      (2L, Option.empty[Long]), (2L, Some(0L)))
      .toDF("k", "v").write.parquet(tmp)
    val src = spark.read.parquet(tmp)
    def q = src.groupBy("k").agg(countDistinct(col("v")).as("d")).orderBy("k")
    val expected = q.collect()
    spark.conf.set(dThresholdKey, "1")
    try {
      val df = q
      assert(!hasDistinctAgg(df))
      assert(df.collect().toSeq == expected.toSeq)
    } finally spark.conf.unset(dThresholdKey)
  }

  test("bitmap rewrite leaves mixed/multi aggregates and defaults untouched") {
    // Default threshold (1 GiB) far above sf data: untouched.
    assert(hasDistinctAgg(countDistinctDf))
    spark.conf.set(dThresholdKey, "1")
    try {
      // Mixed aggregate (count distinct + sum) must NOT be rewritten.
      val mixed = Tables.load(spark, sfDir, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          sum(col("o_totalprice")).as("s"))
      assert(hasDistinctAgg(mixed))
      // Disabled by conf: untouched even above threshold.
      spark.conf.set("spark.graft.distinct.rewrite.enabled", "false")
      assert(hasDistinctAgg(countDistinctDf))
    } finally {
      spark.conf.unset(dThresholdKey)
      spark.conf.unset("spark.graft.distinct.rewrite.enabled")
    }
  }

  test("bitmap rewrite bails out on column names the string API can't resolve") {
    // '.' parses as field access and '`' breaks backtick quoting in the
    // col()/expr() re-spelling — the name-syntax gate must keep the
    // ORIGINAL count(distinct) aggregate (correct, just not rewritten)
    // instead of mis-resolving the spliced subtree.
    val tmp = ScratchDir.create("graft_bmdot") + "/t"
    spark.range(100)
      .selectExpr("id % 3 AS `k.dotted`", "id % 7 AS `v``tick`")
      .write.parquet(tmp)
    val src = spark.read.parquet(tmp)
    def q = src.groupBy(col("`k.dotted`"))
      .agg(countDistinct(col("`v``tick`")).as("d"))
      .orderBy(col("`k.dotted`"))
    val expected = q.collect()
    spark.conf.set(dThresholdKey, "1")
    try {
      val df = q
      assert(hasDistinctAgg(df), "dotted/backticked names must not rewrite")
      assert(df.collect().toSeq == expected.toSeq)
    } finally spark.conf.unset(dThresholdKey)
  }
}
