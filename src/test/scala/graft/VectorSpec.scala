package graft

import graft.operators.VectorOps
import org.apache.spark.sql.functions._

/** Cosine expression + LSH/SimHash behavior (SURVEY §5.2 #3, K2-K4). */
class VectorSpec extends SparkSpec {
  import spark.implicits._

  private def cos(a: Seq[Float], b: Seq[Float]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(call_function("cosine_sim", $"a", $"b")).head.getDouble(0)

  test("cosine_sim: identity, orthogonality, antipodality") {
    val v = Seq(1f, 2f, 3f)
    assert(math.abs(cos(v, v) - 1.0) < 1e-12)
    assert(math.abs(cos(Seq(1f, 0f), Seq(0f, 1f))) < 1e-12)
    assert(math.abs(cos(v, v.map(-_)) + 1.0) < 1e-12)
  }

  test("cosine_sim equals the interpreted HOF spelling bit-for-bit") {
    val df = Tables.load(spark, sfDir, "embeddings").limit(50)
      .select($"vec_id", $"embedding".as("a"))
    val pairs = df.crossJoin(
      Tables.load(spark, sfDir, "embeddings").limit(50)
        .select($"vec_id".as("vid2"), $"embedding".as("b")))
      .filter($"vec_id" < $"vid2")
    def dotD(x: String, y: String) =
      expr(s"aggregate(zip_with($x, $y, (u, v) -> CAST(u AS DOUBLE) * CAST(v AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val hof = dotD("a", "b") / (sqrt(dotD("a", "a")) * sqrt(dotD("b", "b")))
    val mismatches = pairs
      .select(call_function("cosine_sim", $"a", $"b").as("fast"), hof.as("slow"))
      .filter($"fast" =!= $"slow").count()
    assert(mismatches == 0)
  }

  test("cosine_sim null propagation") {
    val out = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
      .select(call_function("cosine_sim", $"a", $"b")).head
    assert(out.isNullAt(0))
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val pairs = VectorOps.minhashPairs(docs, numHashes = 32, bands = 8,
      jaccardThreshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(pairs.head.getDouble(2) > 0.8)
  }

  test("minhash LSH is deterministic across runs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val run1 = VectorOps.minhashPairs(docs, 32, 8, 0.4).collect().toSeq
    val run2 = VectorOps.minhashPairs(docs, 32, 8, 0.4).collect().toSeq
    assert(run1 == run2)
  }

  test("minhash band join: bucketCap on == off on a non-degenerate corpus") {
    // The hot-band star-collapse cap (round-13, shared BandJoin helper)
    // must be a no-op wherever no band bucket exceeds it — the declared
    // dedup_near_minhash results are unchanged by the guard.
    val docs = Tables.load(spark, sfDir, "documents")
    val capped = VectorOps.minhashPairs(docs, 32, 8, 0.4).collect().toSeq
    val uncapped = VectorOps.minhashPairsFromIndex(
      VectorOps.minhashIndex(docs, 32), 32, 8, 0.4, bucketCap = -1)
      .collect().toSeq
    assert(capped == uncapped)
  }

  test("minhash band join: planted clone clique star-collapses, connectivity kept") {
    // 1 000 identical docs collide in EVERY band regardless of signature
    // width — uncapped that is Ω(m²) ≈ 500 k candidate pairs through one
    // band key's task. With the cap the clique emits exactly the m-1 star
    // pairs to the min-id representative: volume linear, every clone
    // reachable (what transitive-closure dedup clustering consumes), and
    // each star pair still exact-Jaccard-verified (here 1.0).
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val clones = (0L until 1000L).map(i => (i, text))
    val loner = Seq((5000L, (1 to 30).map(i => s"zz$i").mkString(" ")))
    val docs = (clones ++ loner).toDF("doc_id", "text")
    val pairs = VectorOps.minhashPairs(docs, 32, 8, 0.4).collect()
    assert(pairs.length == 999)
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0))
    assert(pairs.map(_.getLong(1)).toSet == (1L until 1000L).toSet)
  }

  test("minhash stored index: parquet round-trip pairs == direct pairs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val direct = VectorOps.minhashPairs(docs, 32, 8, 0.4).collect().toSeq
    val dir = ScratchDir.create("graft_mh_idx")
    VectorOps.minhashIndex(docs, 32).write.mode("overwrite").parquet(dir)
    val stored = VectorOps.minhashPairsFromIndex(
      spark.read.parquet(dir), 32, 8, 0.4).collect().toSeq
    assert(direct == stored)
    assert(direct.nonEmpty)
  }

  test("simhash: identical docs share fingerprints; near-dups are hamming-close") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i % 30 == 0) "swapped" else s"w$i").mkString(" ")
    val far = (1 to 60).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, near), (3L, far))
      .toDF("doc_id", "text")
    val fp = VectorOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(0L) == fp(1L))
    assert(hamming(fp(0L), fp(2L)) < hamming(fp(0L), fp(3L)))
    assert(hamming(fp(0L), fp(2L)) <= 12)
  }

  test("simhash64 expression matches the HOF sign-sum formulation bit-for-bit") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    // The original (interpreted, 64-pass) formulation the native
    // expression replaced — kept here as the semantic reference.
    val hofBitSums = expr(
      """transform(sequence(0, 63), i ->
        |  aggregate(split(text, ' '), 0L,
        |    (acc, t) -> acc + CASE WHEN ((xxhash64(t) >> i) & 1L) = 1L
        |                     THEN 1L ELSE -1L END))""".stripMargin)
    val hof = docs.withColumn("bit_sums", hofBitSums)
      .select($"doc_id", expr(
        """aggregate(transform(sequence(0, 63),
          |  i -> CASE WHEN element_at(bit_sums, i + 1) > 0L
          |       THEN shiftleft(1L, i) ELSE 0L END),
          |0L, (acc, v) -> acc | v)""".stripMargin).as("ref"))
    val native = VectorOps.simhash(docs).select($"doc_id", $"simhash")
    val joined = native.join(hof, "doc_id")
      .filter($"simhash" =!= $"ref")
    assert(joined.count() == 0, "native simhash64 diverged from HOF reference")
  }

  test("knn top-k agrees with brute-force ranking on small corpus") {
    val e = Tables.load(spark, sfDir, "embeddings").limit(100)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val sims = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id",
        call_function("cosine_sim", $"embedding", $"qe").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val expected = sims.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
    val topk = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id",
        call_function("cosine_sim", $"embedding", $"qe").as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(topk == expected)
  }

  test("similarityTopKPairs reroutes to LSH above the broadcast BYTE budget") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // Byte budget below the matrix footprint (n × (64·8+16) ≈ 530 B/row —
    // a 5 KB budget fits only ~9 rows) → the exact broadcast kernel must
    // NOT run even though the row count is tiny vs the old 4 M-row bound;
    // the operator reroutes to the SRP-LSH candidate pipeline. This is
    // exactly the high-dim/low-budget case a row-count guard was blind to.
    val rerouted = VectorOps
      .similarityTopKPairs(spark, emb, k = 20, maxBroadcastBytes = 5000L)
    val lshDirect = graft.operators.AnnOps.lshTopKPairs(spark,
      emb.select($"vec_id", $"embedding"), 20)
    assert(rerouted.collect().toSeq == lshDirect.collect().toSeq,
      "above the bound the operator must equal the LSH pipeline")
    // Within the bound: stays exact (kernel result, which the oracle gates).
    val exact = VectorOps.similarityTopKPairs(spark, emb, k = 20)
    assert(exact.collect().length == 20)
  }

  test("dedupEmbeddingPairs reroutes to LSH-threshold above the exact bound") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // Bound below the corpus size → the exact O(n²) theta join must NOT
    // run; the operator reroutes to the SRP-LSH threshold pipeline.
    val rerouted = VectorOps
      .dedupEmbeddingPairs(spark, emb, threshold = 0.45, maxExactRows = 5)
    val lshDirect = graft.operators.AnnOps.lshThresholdPairs(spark,
      emb.select($"vec_id", $"embedding"), 0.45)
    assert(rerouted.collect().toSeq == lshDirect.collect().toSeq,
      "above the bound the operator must equal the LSH-threshold pipeline")
    // Candidates are exact-cosine verified, so the rerouted set is a
    // SUBSET of the exact pairs (recall loss only, never false positives).
    val exact = VectorOps.dedupEmbeddingPairs(spark, emb, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rer = rerouted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rer.subsetOf(exact),
      "rerouted pairs must be a verified subset of the exact pairs")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted input") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(s"w${rnd.nextInt(40)}").distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(s"w${rnd.nextInt(40)}").distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b").select(
      call_function("sorted_intersect_count", $"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).as("ref"))
    assert(df.filter($"fast" =!= $"ref").count() == 0)
    // empty-array edges
    assert(Seq((Seq.empty[String], Seq("x"))).toDF("a", "b")
      .select(call_function("sorted_intersect_count", $"a", $"b"))
      .head.getInt(0) == 0)
  }

  test("cosine_sim zero-norm input yields 0.0, never NaN") {
    assert(cos(Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)) == 0.0)
    assert(cos(Seq(0f, 0f), Seq(0f, 0f)) == 0.0)
  }

  test("approx_count_distinct within declared rsd of exact") {
    val orders = Tables.load(spark, sfDir, "orders")
    val exact = orders.agg(countDistinct($"o_custkey")).head.getLong(0)
    val approx = orders.agg(approx_count_distinct($"o_custkey", 0.02)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 3 * 0.02)
  }

  test("minhash_sig / xxhash64_map native kernels are bit-identical to " +
    "the HOF chains they replaced") {
    val k = 32
    val sh = Tables.load(spark, sfDir, "documents")
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id", array_sort(array_distinct(expr(
        """transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
          |  i -> concat(element_at(split(text, ' '), i), ' ',
          |              coalesce(element_at(split(text, ' '), i + 1), ''), ' ',
          |              coalesce(element_at(split(text, ' '), i + 2), '')))"""
          .stripMargin))).as("sh"))
    val hofSig = (0 until k).map { i =>
      array_min(transform($"sh", x => xxhash64(x, lit(i))))
    }
    val both = sh.select($"doc_id",
      call_function("minhash_sig", $"sh", lit(k)).as("native_sig"),
      array(hofSig: _*).as("hof_sig"),
      array_sort(call_function("xxhash64_map", $"sh")).as("native_shh"),
      array_sort(transform($"sh", x => xxhash64(x))).as("hof_shh"))
    val bad = both.filter($"native_sig" =!= $"hof_sig" ||
      $"native_shh" =!= $"hof_shh").count()
    assert(bad == 0, "native kernels must match the HOF chain bit-for-bit")
    assert(both.count() > 0)
    // Empty-array edge: all-NULL signature (array_min of empty = NULL).
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(call_function("minhash_sig", $"sh", lit(4)).as("sig"))
      .head.getSeq[Any](0)
    assert(empty == Seq(null, null, null, null))
  }
}
