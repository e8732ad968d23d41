package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The correctness session: production `GraftSession.local` plus one
    * difference. The sf dirs are single-file tables; 8 MB splits restore
    * scan parallelism for per-row HOF-heavy operators (simhash/rolling-hash
    * folds ran on ONE task otherwise). At cluster scale inputs are many
    * files and the 128 MB default is right. PlanAudit and Explain inspect
    * plans of this same session. */
  def session(): SparkSession = GraftSession.local()
    .config("spark.sql.files.maxPartitionBytes", "8388608")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    // Usage: Verify <sfDir> <outDir> [queryName...] — trailing names
    // restrict the dump for fast local iteration; the driver passes two
    // args and gets every declared query.
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    // Layout contract (round-6 post-mortem): the loader's ts-unit handling
    // must land events inside the corpus's documented era. A testdata
    // regeneration that changes the physical layout now fails HERE with a
    // named error instead of as 12 silent wrong-answer oracle rows (the
    // round-5 failure mode: int64-ns assumption applied to timestamp[us]
    // collapsed the 30-day corpus to ~43 minutes of 1970).
    locally {
      val maxTs = Tables.load(spark, sfDir, "events")
        .agg(org.apache.spark.sql.functions.max("ts")).head.getTimestamp(0)
      val yr = maxTs.toInstant.atZone(java.time.ZoneOffset.UTC).getYear
      require(yr >= 2020 && yr <= 2035,
        s"events ts-unit contract violated: max(ts)=$maxTs (year $yr) is " +
          s"outside 2020..2035 — the parquet layout of $sfDir/events.parquet " +
          "and Tables.loadEvents' sniff disagree")
    }
    new java.io.File(outDir).mkdirs()
    // Full-surface timing trip-wire (VERDICT r6 item 4): BENCH times only
    // the 20 headline keys; the other 238 had no per-query timing record,
    // so a perf regression there only showed up as total Verify
    // wall-clock (the round-5 text_tokenize_tf regression was caught by
    // bench luck). Every key's construct+execute+write seconds land in
    // outDir/times.json; tools/time_delta.py diffs two rounds' files and
    // reports the top deltas (fail-soft — report, not gate: absolute
    // times at sf0.01 carry ±30% environment noise).
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val dt = (System.nanoTime() - t0) / 1e9
        times += name -> dt
        // Stdout timing line per query (driver ignores stdout; the scale
        // runs read these to find the slow tail).
        println(f"[verify-time] $name $dt%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/times.json"),
      times.sortBy(_._1)
        .map { case (k, v) => f""""$k": $v%.3f""" }
        .mkString("{", ", ", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-reported evidence for the no-oracle approximate rows (round-6,
    // extended round-10 per VERDICT r9 item 5): every no-oracle key with an
    // exact in-engine twin compares against that twin and the measured
    // error/recall lands in the round artifact, machine-readable — the
    // "spec by design" rows carry numbers, not just a label. Each check is
    // individually fail-soft (an error line instead of a silent omission).
    // Selfchecks are driver-tier (sf0.01/sf0.1) evidence: several compute
    // FORCED-EXACT ground truth (all-pairs Jaccard / exact top-100 over
    // the whole corpus) that is quadratic BY DESIGN — at a replica tier
    // (500 k docs) that is 10^11 pair comparisons and a targeted scale
    // run of two pruning keys hung for 15 minutes in the selfcheck block
    // (round-11). Skip them, loudly, above the verify tiers.
    // 10 k covers the driver tiers exactly (sf0.01 = 500 docs, sf0.1 =
    // 5 000); the next replica tier (50 k docs) already means ~1.25e9
    // forced-exact pairs — measured as a multi-hundred-second stall.
    // Only the FORCED-EXACT ground-truth passes are quadratic; the linear
    // checks (codec determinism hashes, index row accounting, BPE laws,
    // sketch tolerances, recall ledgers) run at EVERY tier — gating the
    // whole block dropped verification coverage to zero at replica tiers
    // instead of just skipping the quadratic passes (advice round-12).
    val selfcheckCap = 10000L
    val selfcheckDocs = Tables.load(spark, sfDir, "documents").count()
    val selfcheckEmb = Tables.load(spark, sfDir, "embeddings").count()
    locally {
      import org.apache.spark.sql.functions._
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      def check(key: String)(body: => String): Unit =
        try {
          val l = body
          lines += s"""${q(key)}: $l"""
          println(s"[verify-selfcheck] $key $l")
        } catch { case e: Throwable =>
          lines += s"""${q(key)}: {"error": ${q(String.valueOf(e.getMessage))}, "pass": false}"""
          System.err.println(s"[verify] selfcheck $key failed: ${e.getMessage}")
        }
      // Quadratic-by-design ground truth (all-pairs Jaccard / forced-exact
      // top-100 over the whole corpus): 10 k covers the driver tiers
      // exactly (sf0.01 = 500 docs, sf0.1 = 5 000); the next replica tier
      // (50 k docs) already means ~1.25e9 forced-exact pairs — measured as
      // a multi-hundred-second stall (round-11). Skip THESE loudly above
      // the verify tiers; everything linear still runs.
      // `corpus` names WHICH table's row count triggered a skip (advice
      // round-12: embeddings and documents cross the cap at different
      // tiers, and a bare "n" was ambiguous in the telemetry).
      def checkQuadratic(key: String, corpus: String, n: Long)(
          body: => String): Unit =
        if (n > selfcheckCap) {
          val l = s"""{"skipped": true, "reason": "forced-exact ground """ +
            s"""truth is quadratic by design", "corpus": "$corpus", """ +
            s""""n_$corpus": $n, "cap": $selfcheckCap}"""
          lines += s"""${q(key)}: $l"""
          println(s"[verify-selfcheck] $key $l")
        } else check(key)(body)
      // Raw Double interpolation would emit NaN/Infinity — unparseable
      // JSON, and `NaN >= floor` is silently false — so non-finite values
      // become an explicit thrown error (check() turns it into a parseable
      // {"error": ..., "pass": false} line) instead of a corrupt artifact
      // (advice round-11).
      def finite(label: String, v: Double): Double = {
        require(!v.isNaN && !v.isInfinite, s"non-finite $label: $v")
        v
      }
      def relLine(err: Double, tol: Double) = {
        val e = finite("rel_err", err)
        s"""{"max_rel_err": $e, "tolerance": $tol, "pass": ${e <= tol}}"""
      }
      def recallLine(r: Double, floor: Double, extra: String = "") = {
        val rr = finite("recall", r)
        s"""{"recall": $rr, "floor": $floor$extra, "pass": ${rr >= floor}}"""
      }

      /** Order-insensitive content checksum of a full result set — the
        * determinism evidence for codec/vocab keys: two independent
        * constructions+executions must produce the identical multiset of
        * rows. Decimal accumulation (no long-sum overflow under ANSI). */
      def contentHash(df: org.apache.spark.sql.DataFrame): String =
        String.valueOf(df.agg(sum(
          xxhash64(struct(df.columns.map(col): _*)).cast("decimal(38,0)")))
          .head.getDecimal(0))
      /** Determinism + per-key law line: `violations` counts rows breaking
        * the key's structural invariant (lawSql over the result). */
      def codecLine(key: String, lawSql: String): String = {
        val a = SparkEntry.queries(key)(spark, sfDir)
        val b = SparkEntry.queries(key)(spark, sfDir)
        val (ha, hb) = (contentHash(a), contentHash(b))
        val bad = a.filter(expr(lawSql)).count()
        s"""{"determinism_match": ${ha == hb}, "content_hash": "$ha", """ +
          s""""law_violations": $bad, "pass": ${ha == hb && bad == 0L}}"""
      }

      // Sketch aggregates vs exact twins (tolerance = 3× configured rsd,
      // the VectorSpec convention).
      def approxDistinctLine(key: String): String = {
        val orders = Tables.load(spark, sfDir, "orders")
        val exactD = orders.groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact"))
        val relD = SparkEntry.queries(key)(spark, sfDir)
          .join(exactD, "o_orderstatus")
          .agg(max(abs(col("approx_cust") - col("exact")) / col("exact")))
          .head.getDouble(0)
        relLine(relD, 3 * 0.02)
      }
      check("agg_approx_distinct")(approxDistinctLine("agg_approx_distinct"))
      check("approx_distinct")(approxDistinctLine("approx_distinct"))
      check("agg_hll_sketch") {
        // The declared output is its own ledger (hll_est, n_exact,
        // rel_err); lgK = 14 → rsd ≈ 1.04/√2^14 ≈ 0.0081, 3× bound.
        val mx = SparkEntry.queries("agg_hll_sketch")(spark, sfDir)
          .agg(max("rel_err")).head.getDouble(0)
        relLine(mx, 3 * 0.0081)
      }
      check("agg_approx_percentile") {
        val orders = Tables.load(spark, sfDir, "orders")
        val exactP = orders.groupBy("o_orderstatus")
          .agg(expr("percentile(o_totalprice, array(0.5, 0.9))").as("ex"))
        val relP = SparkEntry.queries("agg_approx_percentile")(spark, sfDir)
          .select(col("o_orderstatus"),
            expr("transform(split(approx_p, ','), x -> cast(x as double))")
              .as("ap"))
          .join(exactP, "o_orderstatus")
          .agg(max(expr(
            "aggregate(zip_with(ap, ex, (a, e) -> abs(a - e) / e), 0d, " +
              "(acc, x) -> greatest(acc, x))")))
          .head.getDouble(0)
        relLine(relP, 0.10)
      }

      // ANN retrieval recall vs the exact cosine kernel (floors match the
      // AnnSpec convention: this synthetic corpus is near-orthogonal, so
      // 48-bit SRP is a weak-signal regime by construction — the check
      // guards the MECHANICS regressing to zero, the measured number is
      // the dashboard value).
      lazy val exactTop100: Set[(Long, Long)] = {
        val emb = Tables.load(spark, sfDir, "embeddings")
        graft.operators.VectorOps.similarityTopKPairs(spark, emb, k = 100,
            maxBroadcastBytes = Long.MaxValue, maxExactRows = Long.MaxValue)
          .select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      checkQuadratic("ann_lsh_topk", "embeddings", selfcheckEmb) {
        val approx = SparkEntry.queries("ann_lsh_topk")(spark, sfDir)
          .select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // Empty truth = vacuous recall 1.0 (the dedup convention), never
        // a 0/0 NaN.
        val rec = if (exactTop100.isEmpty) 1.0
          else approx.intersect(exactTop100).size.toDouble / exactTop100.size
        recallLine(rec, 0.3)
      }
      // Composed IVF+PQ serve (round-12): recall@20 of the pruned
      // (nProbe = 3 of 8 lists) ADC serve vs the exact cosine top-20 for
      // the same query — LINEAR cost (one query vs corpus), runs at every
      // tier. AnnSpec pins the full-probe ≡ flat-ADC equivalence.
      check("ann_ivfpq_knn") {
        val exactIds = graft.operators.VectorOps.knnQuery.fn(spark, sfDir)
          .collect().map(_.getLong(0)).toSet
        val got = SparkEntry.queries("ann_ivfpq_knn")(spark, sfDir)
          .collect().map(_.getLong(0)).toSet
        val rec = if (exactIds.isEmpty) 1.0
          else got.intersect(exactIds).size.toDouble / exactIds.size
        recallLine(rec, 0.25)
      }
      // Delete lifecycle (round-13): no tombstoned id may surface, and
      // recall is measured vs the exact cosine top-20 over the SURVIVING
      // corpus (linear cost — one query vs corpus — runs at every tier).
      // AnnSpec pins masked ≡ compacted ≡ survivor-rebuilt equivalence.
      check("ann_delete_ivf") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val got = SparkEntry.queries("ann_delete_ivf")(spark, sfDir)
          .collect().map(_.getLong(0))
        val deletedReturned = got.count(_ % 3 == 1)
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val exactIds = emb
          .filter(col("vec_id") =!= 0 && col("vec_id") % 3 =!= 1)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
              .as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(20)
          .collect().map(_.getLong(0)).toSet
        val rec = if (exactIds.isEmpty) 1.0
          else got.toSet.intersect(exactIds).size.toDouble / exactIds.size
        val rr = finite("recall", rec)
        s"""{"deleted_returned": $deletedReturned, "recall": $rr, """ +
          s""""floor": 0.25, "pass": ${deletedReturned == 0 && rr >= 0.25}}"""
      }
      // Batched serve (round-13): the declared 5-query batch must equal
      // the single-query composed serve row-for-row for EVERY query in
      // the batch — linear cost, runs at every tier. The batch key uses
      // default pools, so the twin serves use the same defaults.
      check("ann_batch_knn") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val model = graft.operators.AnnOps.fitAnnModel(spark, emb)
        val index = graft.operators.AnnOps.annIndex(spark, emb, model)
        val batched = SparkEntry.queries("ann_batch_knn")(spark, sfDir)
          .collect()
          .groupBy(_.getLong(0))
          .map { case (qid, rows) => qid ->
            rows.sortBy(_.getLong(3))
              .map(r => (r.getLong(1), r.getDouble(2))).toSeq }
        val mismatches = (0L until 5L).count { qid =>
          val single = graft.operators.AnnOps.ivfPqKnnFromIndex(spark, emb,
            index, model, queryId = qid, k = 10, nProbe = 3)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          batched.getOrElse(qid, Nil) != single
        }
        s"""{"queries": 5, "single_serve_mismatches": $mismatches, """ +
          s""""pass": ${mismatches == 0}}"""
      }
      // Chunked batch serve (round-16): the declared key forces the
      // 5-query batch through one-query chunks (budget 1 B); it must
      // equal the UNCHUNKED batch serve row-for-row — the slicing is a
      // footprint control, never a semantic one. Linear cost.
      check("ann_batch_knn_chunked") {
        val chunked = SparkEntry.queries("ann_batch_knn_chunked")(
          spark, sfDir).collect().map(_.toSeq).toSeq
        val unchunked = SparkEntry.queries("ann_batch_knn")(
          spark, sfDir).collect().map(_.toSeq).toSeq
        val same = chunked == unchunked
        s"""{"queries": 5, "rows": ${chunked.size}, """ +
          s""""chunked_equals_unchunked": $same, "pass": $same}"""
      }
      // Int8-stored serve (round-16): recall@10 vs the exact FLOAT top-k
      // — the end-to-end cost of PQ + storage quantization together.
      // Linear cost (5 queries × corpus).
      check("ann_int8_knn") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val got = SparkEntry.queries("ann_int8_knn")(spark, sfDir)
          .collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val recalls = (0L until 5L).map { qid =>
          val q = emb.filter(col("vec_id") === qid)
            .select(col("embedding").as("qe"))
          val exactIds = emb.filter(col("vec_id") =!= qid)
            .crossJoin(broadcast(q))
            .select(col("vec_id"),
              round(call_function("cosine_sim", col("embedding"),
                col("qe")), 6).as("sim"))
            .orderBy(col("sim").desc, col("vec_id")).limit(10)
            .collect().map(_.getLong(0)).toSet
          if (exactIds.isEmpty) 1.0
          else got.getOrElse(qid, Set.empty).intersect(exactIds).size /
            exactIds.size.toDouble
        }
        val r = finite("recall", recalls.sum / recalls.size)
        s"""{"queries": 5, "recall_vs_float_exact": $r, "floor": 0.5, """ +
          s""""pass": ${r >= 0.5}}"""
      }
      check("ann_recall_report") {
        // The declared query IS a recall report — surface its k=100 row.
        val r = SparkEntry.queries("ann_recall_report")(spark, sfDir)
          .filter(col("k") === 100).head.getAs[Double]("recall")
        recallLine(r, 0.3)
      }
      // Batched hybrid (round-14): the declared 3-query batch must equal
      // the single-query composition row-for-row for EVERY query — the
      // ann_batch_knn convention, here across BOTH retrieval arms and
      // the fusion. Linear cost.
      check("search_hybrid_batch") {
        val docs = Tables.load(spark, sfDir, "documents")
        val emb = Tables.load(spark, sfDir, "embeddings")
        val model = graft.operators.AnnOps.fitAnnModel(spark, emb)
        val index = graft.operators.AnnOps.annIndex(spark, emb, model)
        val terms = Seq(
          (0L, "hash"), (0L, "join"), (0L, "vector"),
          (1L, "hash"), (1L, "join"),
          (2L, "vector"))
        import spark.implicits._
        val batched = SparkEntry.queries("search_hybrid_batch")(spark, sfDir)
          .collect().map(_.toSeq).toSeq
          .groupBy(_.head.asInstanceOf[Long])
        val mismatches = (0L to 2L).count { qid =>
          val single = graft.operators.IndexOps.hybridBlendBatch(spark,
              docs, emb, index, model,
              emb.filter(col("vec_id") === qid)
                .select(col("vec_id").as("query_id"),
                  col("embedding").as("qe")),
              terms.filter(_._1 == qid).toDF("query_id", "term"), k = 10)
            .collect().map(_.toSeq).toSeq
          batched.getOrElse(qid, Nil) != single
        }
        s"""{"queries": 3, "single_serve_mismatches": $mismatches, """ +
          s""""pass": ${mismatches == 0}}"""
      }
      // Rebalance (round-14): replay the declared key's churn sequence and
      // prove the rebalanced index content is IDENTICAL to a fresh
      // assignment of the full corpus under the refined model (the
      // threshold-0 law AnnSpec pins) — plus row accounting. Linear cost.
      check("ann_rebalance_ivf") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val hist = emb.filter(col("vec_id") % 10 =!= 0)
        val model = graft.operators.AnnOps.fitAnnModel(spark, hist)
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_verify_rebalance").toString
        graft.operators.AnnOps.ivfUpsert(spark,
            graft.operators.AnnOps.annIndex(spark, hist, model),
            emb.filter(col("vec_id") % 10 === 0), model)
          .write.mode("overwrite").partitionBy("list_id").parquet(idxDir)
        val (newModel, affected, _) = graft.operators.AnnOps
          .annRebalance(spark, idxDir, emb, model)
        def flat(df: org.apache.spark.sql.DataFrame) = df
          .select(col("vec_id"), col("list_id").cast("int"),
            concat_ws(",", col("codes").cast("array<string>")))
          .orderBy("vec_id").collect().map(_.toSeq).toSeq
        val got = flat(spark.read.parquet(idxDir))
        val want = flat(graft.operators.AnnOps.annIndex(spark, emb, newModel))
        val n = emb.count()
        s"""{"rows": ${got.size}, "n_vectors": $n, """ +
          s""""affected_lists": ${affected.size}, """ +
          s""""fresh_assignment_match": ${got == want}, """ +
          s""""pass": ${got.size == n && got == want}}"""
      }
      // Predicate-filtered serve (round-14): recall vs the exact FILTERED
      // top-k at two selectivities — ~50 % (label < 5: the declared key's
      // widened-probe ANN route) and ~1 % (label = 3 AND vec_id % 10 = 0:
      // the exact-over-survivors fallback, which must be recall 1.0 by
      // construction) — plus the hard invariant that no non-matching id
      // is ever returned on either route. Linear cost (5 queries vs
      // corpus), runs at every tier.
      check("ann_filtered_knn") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val model = graft.operators.AnnOps.fitAnnModel(spark, emb)
        val index = graft.operators.AnnOps.annIndex(spark, emb, model)
        val attrs = emb.select(col("vec_id"), col("label"))
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        def exactFiltered(pred: org.apache.spark.sql.Column) = emb
          .join(attrs.filter(pred).select("vec_id"), Seq("vec_id"),
            "left_semi")
          .crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(call_function("cosine_sim", col("embedding"), col("qe")),
              6).as("sim"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("query_id")
              .orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rank") <= 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        def recallOf(got: Set[(Long, Long)], want: Set[(Long, Long)]) =
          if (want.isEmpty) 1.0
          else got.intersect(want).size.toDouble / want.size
        val badLabels = attrs.filter(!(col("label") < 5))
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val wide = SparkEntry.queries("ann_filtered_knn")(spark, sfDir)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val nonMatching = wide.count(p => badLabels.contains(p._2))
        val recWide = finite("recall_wide",
          recallOf(wide.toSet, exactFiltered(col("label") < 5)))
        val narrowPred = col("label") === 3 && col("vec_id") % 10 === 0
        val narrow = graft.operators.AnnOps.ivfPqKnnFilteredBatch(spark,
            emb, index, attrs, narrowPred, model, queries, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recNarrow = finite("recall_narrow",
          recallOf(narrow, exactFiltered(narrowPred)))
        s"""{"recall_sel50": $recWide, "recall_sel1_exact_route": """ +
          s"""$recNarrow, "non_matching_returned": $nonMatching, """ +
          s""""floor": 0.5, "pass": ${recWide >= 0.5 && recNarrow == 1.0 &&
            nonMatching == 0}}"""
      }

      // MinHash-LSH dedup recall vs the exact n-gram Jaccard pass (forced
      // exact; every minhash pair is already exact-Jaccard-verified, so
      // precision is 1.0 by construction and recall is the open number).
      checkQuadratic("dedup_near_minhash", "documents", selfcheckDocs) {
        val docs = Tables.load(spark, sfDir, "documents")
        val truth = graft.operators.TextOps
          .ngramJaccardPairs(docs, 0.4, maxExactRows = Long.MaxValue)
          .select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = SparkEntry.queries("dedup_near_minhash")(spark, sfDir)
          .select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rec = if (truth.isEmpty) 1.0
          else got.intersect(truth).size.toDouble / truth.size
        recallLine(rec, 0.5, s""", "n_truth": ${truth.size}""")
      }

      // Incremental minhash ≡ the batch pairs restricted to cross
      // (batch × history) pairs — the Curation3Spec equivalence law,
      // machine-readable: every cross pair's batch-side doc must be
      // flagged by the incremental path.
      check("dedup_incremental_minhash") {
        val pairs = SparkEntry.queries("dedup_near_minhash")(spark, sfDir)
          .select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val expectFlagged = pairs
          .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }
          .map { case (a, b) => if (a % 10 == 0) a else b }.toSet
        val flagged = SparkEntry.queries("dedup_incremental_minhash")(spark, sfDir)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val missed = expectFlagged.diff(flagged)
        val rec = if (expectFlagged.isEmpty) 1.0
          else 1.0 - missed.size.toDouble / expectFlagged.size
        recallLine(rec, 1.0,
          s""", "n_cross_truth": ${expectFlagged.size}, "n_flagged": ${flagged.size}""")
      }

      // Poison-payload decode: the planted corrupt set and the diverted
      // set must coincide exactly, clean rows must decode with full
      // metadata (round 15, VERDICT r14 item 7).
      check("multimodal_decode_safe") {
        val out = SparkEntry.queries("multimodal_decode_safe")(spark, sfDir)
        val planted0 = operators.DocAssembly.poisonPlanted(col("doc_id"))
        val rows = out.count()
        val planted = out.filter(planted0).count()
        val diverted = out.filter(col("error").isNotNull).count()
        val misDiverted =
          out.filter(col("error").isNotNull =!= planted0).count()
        val cleanIncomplete = out.filter(col("error").isNull &&
          (col("width").isNull || col("height").isNull ||
            col("checksum").isNull)).count()
        s"""{"rows": $rows, "planted": $planted, "diverted": $diverted, """ +
          s""""mis_diverted": $misDiverted, """ +
          s""""clean_incomplete": $cleanIncomplete, "pass": ${
            rows > 0 && misDiverted == 0L && cleanIncomplete == 0L}}"""
      }

      // Index builds: row accounting against their source tables.
      check("ann_index_build") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val idx = SparkEntry.queries("ann_index_build")(spark, sfDir)
        val n = emb.count(); val rows = idx.count()
        val missing = emb.select("vec_id").except(idx.select("vec_id")).count()
        val codeLens = idx.select(size(split(col("pq_codes"), ","))
          .as("m")).distinct().count()
        s"""{"rows": $rows, "n_vectors": $n, "missing": $missing, """ +
          s""""code_len_variants": $codeLens, "pass": ${
            rows == n && missing == 0L && codeLens == 1L}}"""
      }
      check("ann_upsert_ivf") {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val up = SparkEntry.queries("ann_upsert_ivf")(spark, sfDir)
        val n = emb.count()
        val nNew = emb.filter(col("vec_id") % 10 === 0).count()
        val rows = up.count()
        val gotNew = up.filter(col("src") === "new").count()
        val missing = emb.select("vec_id").except(up.select("vec_id")).count()
        s"""{"rows": $rows, "n_vectors": $n, "new_rows": $gotNew, """ +
          s""""expect_new": $nNew, "missing": $missing, "pass": ${
            rows == n && gotNew == nNew && missing == 0L}}"""
      }
      check("minhash_index_build") {
        val docs = Tables.load(spark, sfDir, "documents")
        val eligible = docs.filter(size(split(col("text"), " ")) >= 3).count()
        val idx = SparkEntry.queries("minhash_index_build")(spark, sfDir)
        val rows = idx.count()
        val badSig = idx.filter(size(split(col("sig_csv"), ",")) =!= 32).count()
        s"""{"rows": $rows, "eligible_docs": $eligible, """ +
          s""""bad_signatures": $badSig, "pass": ${
            rows == eligible && badSig == 0L}}"""
      }

      // The recall report IS its own ledger — surface + bound it.
      check("dedup_recall_report") {
        val r = SparkEntry.queries("dedup_recall_report")(spark, sfDir).head
        val nTruth = r.getAs[Long]("n_truth")
        if (nTruth == 0)
          s"""{"n_truth": 0, "recall": 1.0, "pass": true}"""
        else {
          val rec = r.getAs[Double]("recall")
          val prec = Option(r.getAs[Any]("precision"))
            .map(_.asInstanceOf[Double]).getOrElse(1.0)
          s"""{"n_truth": $nTruth, "recall": ${finite("recall", rec)}, """ +
            s""""precision": $prec, "pass": ${rec >= 0.5 && prec >= 0.999}}"""
        }
      }

      // BPE trainer laws over the real corpus (the spec-frozen expected
      // sequence lives in BpeSpec's hand corpus): merged = left+right,
      // pair counts non-increasing (any post-merge pair is bounded by the
      // merge that created its symbol), all counts positive.
      check("bpe_train_merges") {
        val rows = SparkEntry.queries("bpe_train_merges")(spark, sfDir)
          .orderBy("rank").collect()
        val badMerge = rows.count(r =>
          r.getAs[String]("merged") != r.getAs[String]("left") + r.getAs[String]("right"))
        val counts = rows.map(_.getAs[Long]("pair_count"))
        val nonInc = counts.zip(counts.drop(1)).forall { case (a, b) => a >= b }
        val pos = counts.forall(_ > 0)
        s"""{"n_merges": ${rows.length}, "bad_merges": $badMerge, """ +
          s""""counts_non_increasing": $nonInc, "pass": ${
            badMerge == 0 && nonInc && pos && rows.length == 8}}"""
      }
      check("text_token_bpe") {
        val docs = Tables.load(spark, sfDir, "documents")
        val toks = SparkEntry.queries("text_token_bpe")(spark, sfDir)
        val empty = toks.join(docs, "doc_id")
          .filter(length(trim(col("text"))) > 0 &&
            col("n_subword_tokens") === 0).count()
        val (ha, hb) = (contentHash(toks),
          contentHash(SparkEntry.queries("text_token_bpe")(spark, sfDir)))
        s"""{"determinism_match": ${ha == hb}, "content_hash": "$ha", """ +
          s""""empty_tokenizations": $empty, "pass": ${ha == hb && empty == 0L}}"""
      }

      // Multimodal codec keys: determinism hash (two independent
      // executions, order-insensitive row checksum) + the per-key
      // structural law the codec guarantees.
      check("multimodal_decode")(codecLine("multimodal_decode",
        "width != 16 or height != 16 or n_bytes <= 0"))
      check("multimodal_resize")(codecLine("multimodal_resize",
        "width != 8 or height != 8 or resized_bytes <= 0"))
      check("multimodal_audio_features")(codecLine("multimodal_audio_features",
        "sample_rate != 8000 or rms < 0 or rms > 1 or n_samples < 0"))
      check("multimodal_framesample")(codecLine("multimodal_framesample",
        "frame_idx % 4 != 0 or frame_idx < 0"))
      check("multimodal_phash") {
        val df = SparkEntry.queries("multimodal_phash")(spark, sfDir)
        val sentinel = df.filter(col("a_id") === -2L && col("b_id") === -1L &&
          col("hamming") === 0L).count()
        val (ha, hb) = (contentHash(df),
          contentHash(SparkEntry.queries("multimodal_phash")(spark, sfDir)))
        s"""{"determinism_match": ${ha == hb}, "content_hash": "$ha", """ +
          s""""sentinel_pair_found": ${sentinel == 1L}, "pass": ${
            ha == hb && sentinel == 1L}}"""
      }

      // SimHash exact-twin property: identical texts MUST fingerprint
      // identically (the deterministic-content-hash contract; near-dup
      // sensitivity is DedupSpec's planted-pair territory).
      check("dedup_simhash") {
        val docs = Tables.load(spark, sfDir, "documents")
        val viol = SparkEntry.queries("dedup_simhash")(spark, sfDir)
          .join(docs.select("doc_id", "text"), "doc_id")
          .groupBy("text").agg(countDistinct("simhash").as("nd"))
          .filter(col("nd") > 1).count()
        s"""{"identical_text_fingerprint_violations": $viol, "pass": ${viol == 0L}}"""
      }

      Files.writeString(Paths.get(s"$outDir/selfcheck.json"),
        lines.mkString("{", ", ", "}"))
    }
    spark.stop()
  }
}
