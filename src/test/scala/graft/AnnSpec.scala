package graft

import graft.operators.{AnnOps, VectorOps}
import org.apache.spark.sql.functions._

/** ANN scale paths: recall against the exact kernels, determinism. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  private lazy val exactTop100: Seq[(Long, Long)] = {
    val a = emb.select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        round(call_function("cosine_sim", $"ea", $"eb"), 6).as("sim"))
      .orderBy($"sim".desc, $"a_id", $"b_id").limit(100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("SRP-LSH top-k pairs: recall@100 >= 0.3 vs exact, deterministic") {
    val approx = AnnOps.lshTopKPairs(spark, emb, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recall = approx.toSet.intersect(exactTop100.toSet).size / 100.0
    // 32-bit / 4-band SRP on near-orthogonal synthetic vectors is a weak
    // signal by construction; the point is the bucket-join mechanics and a
    // stable, measurable recall floor.
    assert(recall >= 0.3, s"recall@100 = $recall")
    val again = AnnOps.lshTopKPairs(spark, emb, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(approx == again, "LSH result must be deterministic")
  }

  test("oversized-bucket star collapse: a clone clique past the cap still " +
    "tops the k list with sim-1.0 rep pairs, candidates stay linear") {
    // 400 clones of vec 5 (cap is 256) + the base corpus: every clone
    // collides with every other in EVERY band, the degenerate bucket the
    // 1000x run died on. Star collapse must keep the clique's signal —
    // top-k saturated with sim-1.0 pairs anchored at the clique's min id —
    // without the quadratic all-pairs blowup.
    val base = emb.select("vec_id", "embedding").limit(50)
    val clones = (1 to 400).map(i => i * 10000L).toDF("vec_id")
      .crossJoin(base.filter($"vec_id" === 5L).select($"embedding"))
    val all = base.union(clones.select($"vec_id", $"embedding"))
    val top = AnnOps.lshTopKPairs(spark, all, k = 50).collect()
    assert(top.length == 50)
    assert(top.forall(_.getDouble(2) >= 0.999999), "top-k must be clique pairs")
    // Star anchor: the clique's min id (5) is one side of every capped pair.
    val anchored = top.count(r => r.getLong(0) == 5L || r.getLong(1) == 5L)
    assert(anchored == 50, s"expected all 50 star-anchored, got $anchored")
  }

  test("IVF kNN: recall@20 vs exact knn >= 0.5") {
    val exact = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(emb.filter($"vec_id" === 0)
        .select($"embedding".as("qe"))))
      .select($"vec_id",
        round(call_function("cosine_sim", $"embedding", $"qe"), 6).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(20)
      .collect().map(_.getLong(0)).toSet
    val approx = AnnOps.ivfKnn(spark, emb, queryId = 0L, k = 20)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size / 20.0
    assert(recall >= 0.5, s"recall@20 = $recall")
  }

  test("PQ kNN: recall@20 vs exact knn >= 0.5, deterministic") {
    val exact = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(emb.filter($"vec_id" === 0)
        .select($"embedding".as("qe"))))
      .select($"vec_id",
        round(call_function("cosine_sim", $"embedding", $"qe"), 6).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(20)
      .collect().map(_.getLong(0)).toSet
    val approx = AnnOps.pqKnn(spark, emb, queryId = 0L, k = 20)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size / 20.0
    assert(recall >= 0.5, s"recall@20 = $recall")
    val again = AnnOps.pqKnn(spark, emb, queryId = 0L, k = 20)
      .collect().map(_.getLong(0)).toSet
    assert(approx == again, "PQ result must be deterministic")
  }

  test("PQ with candidate pool = corpus recovers the exact ranking") {
    val n = emb.count().toInt
    val full = AnnOps.pqKnn(spark, emb, queryId = 0L, k = 20, nCandidates = n)
    val exact = VectorOps.knnQuery.fn(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(full.collect().map(_.getLong(0)).toSeq == exact,
      "re-ranking every vector exactly must equal the exact kNN")
  }

  test("PQ candidate pool is dimension-adaptive: formula pins the measured " +
    "curve; 768-d recall floor holds at the new default") {
    // The measured knob (SCALE.md §PQ candidate-pool at 768-d): recall@20 =
    // 0.47/0.78/1.000/1.000 at nCandidates = 100/200/400/800 — saturation at
    // dims/2 rounded up to the next 100. The old blind 100 default silently
    // starved recall at realistic width (VERDICT r8/r9 carried defect).
    assert(AnnOps.pqPoolFor(64) == 100)   // oracle-pinned floor
    assert(AnnOps.pqPoolFor(768) == 400)  // measured saturation point
    assert(AnnOps.pqPoolFor(1024) == 600)
    // 768-d recall floor with the DEFAULT pool (resolves to 400): compact
    // clustered corpus (HighDimProbe's shape at spec scale — splitmix
    // centers + 0.35 noise so near-neighbor structure exists).
    def u(id: Long, dim: Long): Double = {
      var z = id * 0x9E3779B97F4A7C15L + dim * 0xC2B2AE3D27D4EB4FL + 0x632BE59BD9B4E019L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }
    val dims = 768
    val hi = spark.range(0, 1200, 1, 8).as[Long].map { id =>
      val cluster = (id % 16) * 7919L
      val v = Array.tabulate(dims)(d =>
        (u(cluster, d) + 0.35 * u(id + 1000003L, d)).toFloat)
      (id, v.toSeq)
    }.toDF("vec_id", "embedding").cache()
    hi.count()
    val exact = hi.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(hi.filter($"vec_id" === 0)
        .select($"embedding".as("qe"))))
      .select($"vec_id",
        round(call_function("cosine_sim", $"embedding", $"qe"), 6).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(20)
      .collect().map(_.getLong(0)).toSet
    val approx = AnnOps.pqKnn(spark, hi, queryId = 0L, k = 20,
        m = dims / 8, dsub = 8, ksub = 16) // nCandidates defaulted → 400
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size / 20.0
    assert(recall >= 0.9, s"768-d recall@20 with adaptive default = $recall")
    hi.unpersist()
  }

  test("stored ANN index round-trips through parquet and reproduces build-per-query results") {
    // The 100 TB shape is fit-once-at-ingest + query-the-stored-index;
    // this pins that the materialized (vec_id, list_id, codes) table,
    // written to and re-read from parquet, yields byte-identical IVF and
    // PQ answers to the fused build-per-query pipelines.
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = "/tmp/graft_ann_index_spec"
    AnnOps.annIndex(spark, emb, model)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val ivfStored = AnnOps.ivfKnnFromIndex(spark, emb, stored, model,
      queryId = 0L, k = 20).collect().toSeq
    val ivfDirect = AnnOps.ivfKnn(spark, emb, queryId = 0L, k = 20)
      .collect().toSeq
    assert(ivfStored == ivfDirect, "stored-index IVF must equal build-per-query")
    val pqStored = AnnOps.pqKnnFromIndex(spark, emb, stored, model,
      queryId = 0L, k = 20).collect().toSeq
    val pqDirect = AnnOps.pqKnn(spark, emb, queryId = 0L, k = 20)
      .collect().toSeq
    assert(pqStored == pqDirect, "stored-index PQ must equal build-per-query")
    // The declared query renders the same index flat + deterministic.
    val declared = AnnOps.annIndexBuild.fn(spark, sfDir).collect()
    assert(declared.length == emb.count() && declared.head.schema.fieldNames
      .toSeq == Seq("vec_id", "list_id", "pq_codes"))
  }

  test("composed IVF+PQ: full probe == flat ADC scan; pruned probe keeps " +
      "recall; declared twin matches the stored-index serve") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = "/tmp/graft_ann_ivfpq_spec"
    AnnOps.annIndex(spark, emb, model).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    // The equivalence contract: probing ALL lists restricts nothing, so
    // the composed serve must be row-identical to the flat (corpus-
    // linear) ADC scan — including the candidate pool, which is sized to
    // the probed fraction and equals the flat pool at full probe.
    val composedFull = AnnOps.ivfPqKnnFromIndex(spark, emb, stored, model,
      queryId = 0L, k = 20, nProbe = model.nLists).collect().toSeq
    val flat = AnnOps.pqKnnFromIndex(spark, emb, stored, model,
      queryId = 0L, k = 20).collect().toSeq
    assert(composedFull == flat,
      "full-probe composed serve must equal the flat ADC scan")
    // Pruned serve: ~nLists/nProbe less ADC work, bounded recall loss.
    val pruned = AnnOps.ivfPqKnnFromIndex(spark, emb, stored, model,
      queryId = 0L, k = 20, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val exact = VectorOps.knnQuery.fn(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val recall = pruned.intersect(exact).size / 20.0
    assert(recall >= 0.25, s"composed recall@20 (nProbe=3) = $recall")
    // The declared key runs the same composition (fresh model fit is
    // deterministic, so it must reproduce the stored-index serve).
    val declared = AnnOps.annIvfPqKnn.fn(spark, sfDir).collect().toSeq
    val composedPruned = AnnOps.ivfPqKnnFromIndex(spark, emb, stored,
      model, queryId = 0L, k = 20, nProbe = 3).collect().toSeq
    assert(declared == composedPruned,
      "declared ann_ivfpq_knn must match the stored-index composed serve")
  }

  test("composed serve over a list_id-PARTITIONED stored index: the probe " +
      "filter is partition pruning (unprobed lists never read)") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = "/tmp/graft_ann_ivfpq_part_spec"
    // The 100 TB layout: the stored index hive-partitioned on list_id —
    // the probe filter then prunes DIRECTORIES, not rows.
    AnnOps.annIndex(spark, emb, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    val stored = spark.read.parquet(dir)
      .select("vec_id", "list_id", "codes") // logical column order
    val served = AnnOps.ivfPqKnnFromIndex(spark, emb, stored, model,
      queryId = 0L, k = 20, nProbe = 3)
    // Same answer as the unpartitioned layout.
    val flatDir = "/tmp/graft_ann_ivfpq_part_spec_flat"
    AnnOps.annIndex(spark, emb, model).write.mode("overwrite").parquet(flatDir)
    val fromFlat = AnnOps.ivfPqKnnFromIndex(spark, emb,
      spark.read.parquet(flatDir), model, queryId = 0L, k = 20, nProbe = 3)
    assert(served.collect().toSeq == fromFlat.collect().toSeq)
    // The executed plan carries the probe as a PARTITION filter on the
    // index scan, and the scan reads only the probed lists' files.
    val totalFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("list_id=")).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    // AQE wraps materialized stages in QueryStageExec leaves — descend.
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
    }.flatten
    val idxScans = allScans(served.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(idxScans.nonEmpty, "no index scan found in the executed plan")
    idxScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(
        _.name == "list_id")),
        s"probe filter must be a PARTITION filter, got: ${f.partitionFilters}")
      val scanned = f.selectedPartitions.totalNumberOfFiles
      assert(scanned > 0 && scanned < totalFiles,
        s"scan must open only probed lists: $scanned of $totalFiles files")
    }
  }

  test("IVF assignment partitions the corpus into the probe-able lists") {
    val full = AnnOps.ivfKnn(spark, emb, queryId = 0L, k = 20,
      nProbe = 10) // probing ALL lists must recover exact ranking
    val exact = VectorOps.knnQuery.fn(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(full.collect().map(_.getLong(0)).toSeq == exact)
  }

  test("IVF upsert: stored index + new-batch assignment == full rebuild " +
      "under the same model, through a parquet round-trip") {
    val hist = emb.filter($"vec_id" % 10 =!= 0)
    val batch = emb.filter($"vec_id" % 10 === 0)
    val model = AnnOps.fitAnnModel(spark, hist)
    // Production shape: the stored index is a TABLE on disk, not a plan —
    // the upsert must work from the persisted rows alone.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_upsert").toString
    AnnOps.annIndex(spark, hist, model).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val upserted = AnnOps.ivfUpsert(spark, stored, batch, model)
      .orderBy("vec_id").collect().toSeq
    val rebuilt = AnnOps.annIndex(spark, emb, model)
      .orderBy("vec_id").collect().toSeq
    assert(upserted == rebuilt,
      "incremental upsert must be row-identical to a same-model rebuild")
    // The upsert plan must not scan the historical embeddings: its only
    // embedding-source scan is the (filtered) new batch, plus the stored
    // index itself.
    val upsertPlan = AnnOps.ivfUpsert(spark, stored, batch, model)
      .queryExecution.optimizedPlan
    val scanPaths = upsertPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case _ => ""
        }
    }
    val embScans = scanPaths.count(_.contains("embeddings.parquet"))
    assert(embScans == 1,
      s"upsert must scan embeddings exactly once (the new batch), " +
        s"found $embScans embedding scans in $scanPaths")
    assert(scanPaths.exists(_.contains("graft_ivf_upsert")),
      "upsert must read the persisted stored index")
    // Declared key: deterministic flat render, full corpus covered.
    val declared = AnnOps.annUpsertIvf.fn(spark, sfDir).collect()
    assert(declared.length == emb.count(),
      "declared upsert output must cover the whole corpus")
    assert(declared.count(_.getString(3) == "new") == batch.count(),
      "new-batch provenance must match the batch size")
  }

  test("batched multi-query serve == single-query composed serve, " +
      "row-for-row per query, at the same explicit pool") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val index = AnnOps.annIndex(spark, emb, model)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val pool = 100
    val batched = AnnOps.ivfPqKnnBatch(spark, emb, index, model, queries,
      k = 10, nProbe = 3, nCandidates = pool)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    assert(batched.keySet == qids.toSet, "every query must be served")
    qids.foreach { qid =>
      val single = AnnOps.ivfPqKnnFromIndex(spark, emb, index, model,
        queryId = qid, k = 10, nProbe = 3, nCandidates = pool)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched(qid) == single,
        s"query $qid: batched serve diverged from the single-query serve")
    }
    // Declared key: deterministic.
    val a = AnnOps.annBatchKnn.fn(spark, sfDir).collect().toSeq
    val b = AnnOps.annBatchKnn.fn(spark, sfDir).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("chunked batch serve == unchunked, row-for-row, when the budget " +
      "forces multiple chunks; one chunk degenerates to the plain serve") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val index = AnnOps.annIndex(spark, emb, model)
    val queries = emb.filter($"vec_id" < 7)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val unchunked = AnnOps.ivfPqKnnBatch(spark, emb, index, model, queries,
      k = 10, nProbe = 3).collect().map(_.toSeq).toSeq
    // Budget 1 B → 1 query/chunk → 7 chunks (the adaptive-pool default
    // path, where chunk slicing must not perturb per-query pools).
    val chunked = AnnOps.ivfPqKnnBatchChunked(spark, emb, index, model,
      queries, k = 10, nProbe = 3, chunkBudgetBytes = 1L)
      .collect().map(_.toSeq).toSeq
    assert(chunked == unchunked,
      "chunk slicing must be invisible to results (adaptive pools)")
    // Explicit-pool path too (the masked/filtered contract).
    val unchunkedP = AnnOps.ivfPqKnnBatch(spark, emb, index, model, queries,
      k = 10, nProbe = 3, nCandidates = 100).collect().map(_.toSeq).toSeq
    val chunkedP = AnnOps.ivfPqKnnBatchChunked(spark, emb, index, model,
      queries, k = 10, nProbe = 3, nCandidates = 100,
      chunkBudgetBytes = 1L).collect().map(_.toSeq).toSeq
    assert(chunkedP == unchunkedP)
    // A budget that holds the whole frame degenerates to one serve.
    val one = AnnOps.ivfPqKnnBatchChunked(spark, emb, index, model,
      queries, k = 10, nProbe = 3).collect().map(_.toSeq).toSeq
    assert(one == unchunked)
    // Declared key: deterministic, equals the unchunked declared twin.
    val a = AnnOps.annBatchKnnChunked.fn(spark, sfDir).collect().toSeq
    val b = AnnOps.annBatchKnn.fn(spark, sfDir).collect().toSeq
    assert(a == b && a.nonEmpty,
      "declared chunked key must equal the unchunked declared batch")
    // ADVICE r16: duplicate query_ids must not duplicate output rows —
    // a dup id straddling a chunk boundary was captured by BOTH chunks.
    val dupQ = queries.unionAll(queries.filter($"query_id" === 3))
    val dedup = AnnOps.ivfPqKnnBatchChunked(spark, emb, index, model,
      dupQ, k = 10, nProbe = 3, chunkBudgetBytes = 1L)
      .collect().map(_.toSeq).toSeq
    assert(dedup == unchunked,
      "dup query_ids must dedup to one serve per id, chunked or not")
    // One chunk over a payload-carrying index: the shuffled rerank must
    // read the index pruned to the batch's probed lists (3 of 8 here),
    // as every chunk of the multi-chunk arm does, and the rows must not
    // change.
    import org.apache.spark.sql.catalyst.expressions.{Alias,
      AttributeReference, Expression, In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    val pf = AnnOps.annIndex(spark, emb, model, payload = "float")
    val onePayload = AnnOps.ivfPqKnnBatchChunked(spark, emb, pf, model,
      queries.filter($"query_id" === 0), k = 10, nProbe = 3)
    val onePayloadRows = onePayload.collect().map(_.toSeq).toSeq
    assert(onePayloadRows.nonEmpty &&
      onePayloadRows == unchunked.filter(_.head == 0L),
      "one-chunk payload serve must equal the unchunked serve")
    def onListId(e: Expression) = e.references.exists(_.name == "list_id")
    val rerankSources = onePayload.queryExecution.analyzed.collect {
      case p: Project if p.projectList.exists {
        case Alias(a: AttributeReference, "embedding") => a.name == "p_vec"
        case _ => false
      } => p
    }
    assert(rerankSources.nonEmpty && rerankSources.forall(_.exists {
      case Filter(cond, _) => cond.exists {
        case i: In => onListId(i.value)
        case i: InSet => onListId(i.child)
        case _ => false
      }
      case _ => false
    }), "the one-chunk rerank source must be list_id-pruned:\n" +
      onePayload.queryExecution.analyzed.toString.take(2000))
  }

  test("payload-carrying index serves its own rerank: float payload == " +
      "corpus rerank row-for-row, int8 payload == the rerankInt8 mode") {
    // Round-17 (VERDICT r16 missing #1): vectors stored IN their inverted
    // lists make a list-pruned chunk scan prune the rerank too. Payload
    // carriage must be result-invisible: float payload is the corpus
    // values verbatim; int8 payload reranks on the same affine grid as
    // the explicit rerankInt8 frame.
    val model = AnnOps.fitAnnModel(spark, emb)
    val plain = AnnOps.annIndex(spark, emb, model)
    val queries = emb.filter($"vec_id" < 7)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val corpus = AnnOps.ivfPqKnnBatch(spark, emb, plain, model, queries,
      k = 10, nProbe = 3).collect().map(_.toSeq).toSeq
    val pf = AnnOps.annIndex(spark, emb, model, payload = "float")
    assert(AnnOps.ivfPqKnnBatch(spark, emb, pf, model, queries, k = 10,
        nProbe = 3).collect().map(_.toSeq).toSeq == corpus,
      "float-payload rerank must equal the corpus rerank")
    assert(AnnOps.ivfPqKnnBatchChunked(spark, emb, pf, model, queries,
        k = 10, nProbe = 3, chunkBudgetBytes = 1L)
        .collect().map(_.toSeq).toSeq == corpus,
      "chunked float-payload rerank must equal the corpus rerank")
    val p8 = AnnOps.annIndex(spark, emb, model, payload = "int8")
    val viaFrame = AnnOps.ivfPqKnnBatch(spark, emb, plain, model, queries,
      k = 10, nProbe = 3, rerankInt8 = Some(AnnOps.quantizeInt8(emb)))
      .collect().map(_.toSeq).toSeq
    assert(AnnOps.ivfPqKnnBatch(spark, emb, p8, model, queries, k = 10,
        nProbe = 3).collect().map(_.toSeq).toSeq == viaFrame,
      "int8-payload rerank must equal the explicit rerankInt8 serve")
    // Through a STORED index (the production shape): the rerank must read
    // p_vec from the index files — and the serve must never scan the
    // corpus table at all (the whole point: a list-pruned index scan
    // prunes the rerank with it).
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    pf.write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/idx")
    val storedPf = spark.read.parquet(s"$dir/idx")
      .select($"vec_id", $"list_id", $"codes", $"p_vec")
    assert(AnnOps.ivfPqKnnBatch(spark, emb, storedPf, model, queries,
        k = 10, nProbe = 3).collect().map(_.toSeq).toSeq == corpus)
    // Plan audit: queries is made leaf-only so the ONLY possible corpus
    // scan is the rerank arm — with payload it must not exist.
    val leafQ = queries.collect()
    val qDf = spark.createDataFrame(
      java.util.Arrays.asList(leafQ: _*), queries.schema)
    val plan = AnnOps.ivfPqKnnBatch(spark, emb, storedPf, model, qDf,
      k = 10, nProbe = 3).queryExecution.executedPlan.toString
    assert(plan.contains("p_vec"), "rerank must read p_vec from the index")
    assert(!plan.contains("embeddings.parquet"),
      "a payload-carrying serve must never scan the corpus table")
  }

  test("int8 storage: dequant error within half a quantization step on " +
      "the real corpus; a lossless-grid corpus serves ROW-IDENTICAL to " +
      "the float rerank; rerank join never sort-merges") {
    // Law on the real (non-grid) corpus: |x - dequant| <= scale/2 + eps.
    val int8 = AnnOps.quantizeInt8(emb)
    val bad = emb.join(int8, "vec_id")
      .select(expr(
        """aggregate(zip_with(embedding, codes,
          |  (x, c) -> abs(cast(x as double) - (q_min + c * q_scale))),
          |  0d, (acc, e) -> greatest(acc, e))""".stripMargin).as("maxerr"),
        col("q_scale"))
      .filter(col("maxerr") > col("q_scale") / 2 + lit(1e-9))
      .count()
    assert(bad == 0, "dequant must stay within half a quantization step")
    // Grid corpus: every component an integer in 0..255 with both ends
    // present, so scale = 1 exactly and dequant is LOSSLESS — the int8
    // rerank must then match the float rerank bit-for-bit.
    val g = spark.range(0, 300).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d -> cast(
        CASE WHEN d = 0 THEN 0 WHEN d = 1 THEN 255
        ELSE (id * 7919 + d * 104729) % 256 END AS float))""")
        .as("embedding"))
    val gInt8 = AnnOps.quantizeInt8(g)
    val model = AnnOps.fitAnnModel(spark, g)
    val index = AnnOps.annIndex(spark, g, model)
    val queries = g.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val float = AnnOps.ivfPqKnnBatch(spark, g, index, model, queries,
      k = 10, nProbe = 3).collect().map(_.toSeq).toSeq
    val viaInt8 = AnnOps.ivfPqKnnBatch(spark, g, index, model, queries,
      k = 10, nProbe = 3, rerankInt8 = Some(gInt8))
    assert(viaInt8.collect().map(_.toSeq).toSeq == float,
      "lossless-grid int8 rerank must equal the float rerank exactly")
    assert(!viaInt8.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"),
      "the gated int8 rerank at this tier must broadcast, not sort-merge")
    // Chunked passthrough: same result through the chunk slicer.
    val chunked = AnnOps.ivfPqKnnBatchChunked(spark, g, index, model,
      queries, k = 10, nProbe = 3, chunkBudgetBytes = 1L,
      rerankInt8 = Some(gInt8)).collect().map(_.toSeq).toSeq
    assert(chunked == float)
  }

  // --- delete/tombstone/compaction lifecycle (round-13, VERDICT r12 #1) ---

  private def flatIdx(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, String)] =
    df.select($"vec_id", $"list_id", concat_ws(",", $"codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("delete lifecycle: masked serve == compacted serve == survivor " +
      "rebuild; deleted ids never returned") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = "/tmp/graft_ann_delete_spec"
    AnnOps.annIndex(spark, emb, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    val tombs = emb.select($"vec_id").filter($"vec_id" % 3 === 1)
    val deleted = tombs.collect().map(_.getLong(0)).toSet
    val stored = spark.read.parquet(dir).select("vec_id", "list_id", "codes")
    // One explicit pool shared by all three serves (the masked path pins
    // its default to the UNMASKED index estimate for exactly this reason;
    // an explicit value removes the estimate from the equivalence).
    val pool = 200
    val masked = AnnOps.ivfPqKnnFromIndexMasked(spark, emb, stored, tombs,
      model, queryId = 0L, k = 20, nProbe = 3, nCandidates = pool)
      .collect().toSeq
    assert(masked.nonEmpty)
    assert(masked.forall(r => !deleted(r.getLong(0))),
      "a tombstoned vector must never be returned")
    val (affected, emptied) = AnnOps.annCompactStored(spark, dir, tombs)
    assert(affected.nonEmpty && emptied.isEmpty)
    val compacted = spark.read.parquet(dir)
      .select("vec_id", "list_id", "codes")
    assert(compacted.join(tombs, Seq("vec_id")).count() == 0,
      "compaction must physically remove tombstoned rows")
    val compactedServe = AnnOps.ivfPqKnnFromIndex(spark, emb, compacted,
      model, queryId = 0L, k = 20, nProbe = 3, nCandidates = pool)
      .collect().toSeq
    assert(masked == compactedServe,
      "masked serve must equal the post-compaction serve")
    // Post-compaction content == fresh build over survivors, same model.
    val rebuilt = AnnOps.annIndex(spark,
      emb.filter($"vec_id" % 3 =!= 1), model)
    assert(flatIdx(compacted) == flatIdx(rebuilt),
      "compacted index must be row-identical to a survivor rebuild")
    val rebuiltServe = AnnOps.ivfPqKnnFromIndex(spark, emb, rebuilt, model,
      queryId = 0L, k = 20, nProbe = 3, nCandidates = pool)
      .collect().toSeq
    assert(compactedServe == rebuiltServe)
    // Declared key: same shape, no deleted id, deterministic.
    val a = AnnOps.annDeleteIvf.fn(spark, sfDir).collect().toSeq
    val b = AnnOps.annDeleteIvf.fn(spark, sfDir).collect().toSeq
    assert(a == b && a.nonEmpty)
    assert(a.forall(r => r.getLong(0) % 3 != 1))
  }

  test("batched-masked serve == per-query masked serve at the same pool") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val index = AnnOps.annIndex(spark, emb, model)
    val tombs = emb.select($"vec_id").filter($"vec_id" % 3 === 1)
    val deleted = tombs.collect().map(_.getLong(0)).toSet
    val queries = emb.filter($"vec_id" < 5 && $"vec_id" % 3 =!= 1)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val qids = queries.select("query_id").collect().map(_.getLong(0)).toSeq
    val pool = 100
    val batched = AnnOps.ivfPqKnnBatchMasked(spark, emb, index, tombs,
      model, queries, k = 10, nProbe = 3, nCandidates = pool)
      .collect()
    assert(batched.forall(r => !deleted(r.getLong(1))),
      "a tombstoned vector must never be returned from the batched serve")
    val byQ = batched.groupBy(_.getLong(0))
    qids.foreach { qid =>
      val single = AnnOps.ivfPqKnnFromIndexMasked(spark, emb, index, tombs,
        model, queryId = qid, k = 10, nProbe = 3, nCandidates = pool)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(byQ(qid).sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq == single)
    }
  }

  test("annCompactStored refuses a flat (unpartitioned) index layout") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = "/tmp/graft_ann_compact_flat_spec"
    AnnOps.annIndex(spark, emb, model).write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      AnnOps.annCompactStored(spark, dir, emb.select($"vec_id").limit(1))
    }
    assert(e.getMessage.contains("list_id-partitioned"))
  }

  test("compaction is list-local: unaffected partitions byte-untouched, " +
      "a fully-deleted list's directory is dropped") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = "/tmp/graft_ann_compact_spec"
    AnnOps.annIndex(spark, emb, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    val stored = spark.read.parquet(dir)
    // Tombstone EVERY vector of one list: that list must empty out and
    // its directory disappear; every other list must not be rewritten.
    val victim = stored.groupBy("list_id").count()
      .orderBy($"count", $"list_id").head.getInt(0)
    // Materialized, not a lazy plan over the index files — compaction
    // overwrites those files, and a tombstone frame still reading them
    // would fail after the rewrite (a real delete queue is its own table).
    val tombs = stored.filter($"list_id" === victim).select("vec_id")
      .as[Long].collect().toSeq.toDF("vec_id")
    def files(): Map[String, (Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    val before = files()
    val (affected, emptied) = AnnOps.annCompactStored(spark, dir, tombs)
    assert(affected == Seq(victim) && emptied == Seq(victim))
    assert(!new java.io.File(dir, s"list_id=$victim").exists(),
      "fully-deleted list directory must be dropped")
    val after = files()
    val untouched = before.filterNot(_._1.contains(s"list_id=$victim"))
    assert(after == untouched,
      "unaffected list partitions must not be rewritten")
    // Remaining content == survivor rebuild under the same model.
    val survivors = emb.join(tombs, Seq("vec_id"), "left_anti")
    assert(flatIdx(spark.read.parquet(dir)
        .select("vec_id", "list_id", "codes")) ==
      flatIdx(AnnOps.annIndex(spark, survivors, model)))
  }

  /** Deterministic drift fixture for the rebalance tests: the initial
    * corpus is two tight 16-d clusters (A = even ids, B = odd); the churn
    * batch lands ON THE A/B BOUNDARY (midpoint + noise wide enough to
    * straddle it), so under the stale model its members split between the
    * two stale lists and a 1-probe serve can only ever see half of a
    * churn query's true neighborhood. */
  private def driftVec(kind: Int, i: Int): Seq[Float] = {
    def a(d: Int) = math.sin(d * 1.7 + 0.3)
    def b(d: Int) = math.sin(d * 2.3 + 4.1)
    (0 until 16).map { d =>
      val center = kind match {
        case 0 => a(d)
        case 1 => b(d)
        case _ => (a(d) + b(d)) / 2.0
      }
      val amp = if (kind == 2) 0.25 else 0.1
      (center + amp * math.sin(i * 31.7 + d * 3.3 + kind)).toFloat
    }
  }

  test("rebalance under churn: boundary-straddling upserts degrade the " +
      "1-probe serve, rebalance recovers it to fresh-build level, and the " +
      "rebalanced content == fresh assignment under the refined model") {
    val initial = (0 until 200).map(i => (i.toLong, driftVec(i % 2, i)))
      .toDF("vec_id", "embedding")
    val churn = (0 until 200).map(i => ((1000 + i).toLong, driftVec(2, i)))
      .toDF("vec_id", "embedding")
    val full = initial.unionByName(churn)
    val model = AnnOps.fitAnnModel(spark, initial, nLists = 4,
      m = 2, dsub = 8, ksub = 16)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_rebalance_spec").toString
    AnnOps.ivfUpsert(spark, AnnOps.annIndex(spark, initial, model),
        churn, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    val qids = Seq(1000L, 1037L, 1101L, 1150L, 1199L)
    def exactTop(qid: Long): Set[Long] = full
      .filter($"vec_id" =!= qid)
      .crossJoin(broadcast(full.filter($"vec_id" === qid)
        .select($"embedding".as("qe"))))
      .select($"vec_id",
        round(call_function("cosine_sim", $"embedding", $"qe"), 6).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    def recallAt(m: graft.operators.AnnOps.AnnModel): Double = {
      val stored = spark.read.parquet(dir)
        .select("vec_id", "list_id", "codes")
      qids.map { qid =>
        val got = AnnOps.ivfPqKnnFromIndex(spark, full, stored, m,
          qid, k = 10, nProbe = 1).collect().map(_.getLong(0)).toSet
        val want = exactTop(qid)
        got.intersect(want).size.toDouble / want.size
      }.sum / qids.size
    }
    val recallStale = recallAt(model)
    val (newModel, affected, _) =
      AnnOps.annRebalance(spark, dir, full, model, lloydIters = 5)
    assert(affected.nonEmpty, "boundary churn must drift some list")
    val recallRebalanced = recallAt(newModel)
    // Fresh-build baseline: a from-scratch model on the full corpus.
    val fresh = AnnOps.fitAnnModel(spark, full, nLists = 4,
      m = 2, dsub = 8, ksub = 16)
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft_ann_fresh_spec").toString
    AnnOps.annIndex(spark, full, fresh)
      .write.mode("overwrite").partitionBy("list_id").parquet(freshDir)
    val recallFresh = {
      val stored = spark.read.parquet(freshDir)
        .select("vec_id", "list_id", "codes")
      qids.map { qid =>
        val got = AnnOps.ivfPqKnnFromIndex(spark, full, stored, fresh,
          qid, k = 10, nProbe = 1).collect().map(_.getLong(0)).toSet
        val want = exactTop(qid)
        got.intersect(want).size.toDouble / want.size
      }.sum / qids.size
    }
    info(s"recall stale=$recallStale rebalanced=$recallRebalanced fresh=$recallFresh")
    assert(recallRebalanced > recallStale,
      s"rebalance must improve the degraded serve: " +
        s"stale=$recallStale rebalanced=$recallRebalanced")
    assert(recallRebalanced >= recallFresh - 0.1,
      s"rebalanced recall must reach fresh-build level: " +
        s"rebalanced=$recallRebalanced fresh=$recallFresh")
    // Content law (threshold 0): rebalanced index == fresh assignment of
    // the full corpus under the REFINED model (codes frozen).
    assert(flatIdx(spark.read.parquet(dir)
        .select("vec_id", "list_id", "codes")) ==
      flatIdx(AnnOps.annIndex(spark, full, newModel)))
  }

  test("rebalance is list-local and threshold-gated: an above-threshold " +
      "gate on a stable corpus is a no-op with zero file churn") {
    val stable = (0 until 200).map(i => (i.toLong, driftVec(i % 2, i)))
      .toDF("vec_id", "embedding")
    val model = AnnOps.fitAnnModel(spark, stable, nLists = 4,
      m = 2, dsub = 8, ksub = 16)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_rebalance_noop").toString
    AnnOps.annIndex(spark, stable, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    def files(): Map[String, (Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    val before = files()
    // A 90 % drift gate on an already-converged corpus: Lloyd refinement
    // barely moves the centroids, no list crosses the gate, nothing is
    // rewritten — the cheap periodic-maintenance invocation.
    val (newModel, affected, emptied) = AnnOps.annRebalance(spark, dir,
      stable, model, lloydIters = 2, driftThreshold = 0.9)
    assert(affected.isEmpty && emptied.isEmpty)
    assert(files() == before, "a gated no-op must not touch any file")
    assert(newModel.centroids.map(_._1) == model.centroids.map(_._1),
      "refinement must preserve centroid ids")
  }

  test("probe widening law: identity at sel=1, 1/sel growth, nLists clamp, " +
      "nProbe floor, monotone non-increasing in selectivity") {
    assert(AnnOps.widenedProbe(3, 8, 1.0) == 3)
    assert(AnnOps.widenedProbe(3, 8, 0.5) == 6)
    assert(AnnOps.widenedProbe(3, 8, 0.01) == 8, "selective filter clamps to full probe")
    assert(AnnOps.widenedProbe(3, 8, 0.9) == 4)
    intercept[IllegalArgumentException] { AnnOps.widenedProbe(3, 8, 0.0) }
    val sels = Seq(0.01, 0.1, 0.3, 0.5, 0.8, 1.0)
    val probes = sels.map(AnnOps.widenedProbe(3, 8, _))
    assert(probes == probes.sorted.reverse,
      s"widening must not increase with selectivity: $sels -> $probes")
  }

  /** Exact filtered per-query top-k ground truth for the filtered-serve
    * pins: survivors under `pred`, brute-force cosine, dense rank cut. */
  private def exactFilteredTopK(pred: org.apache.spark.sql.Column,
      queries: org.apache.spark.sql.DataFrame,
      k: Int): Seq[(Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    emb.filter(pred)
      .crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(call_function("cosine_sim", $"embedding", $"qe"), 6).as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy($"sim".desc, $"vec_id")))
      .filter($"rank" <= k)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("filtered serve, ANN route at full probe + corpus pool == exact " +
      "filtered top-k; filter violators never surface") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val index = AnnOps.annIndex(spark, emb, model)
    val attrs = emb.select($"vec_id", $"label")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val pred = $"label" < 5
    val corpusN = emb.count().toInt
    // exactGateRows = 0 forces the ANN route even on the spec fixture;
    // full probe + corpus-sized pool makes quantization loss-free, so
    // the result must be ROW-IDENTICAL to the exact filtered top-k.
    val got = AnnOps.ivfPqKnnFilteredBatch(spark, emb, index, attrs, pred,
        model, queries, k = 10, nProbe = model.centroids.size,
        nCandidates = corpusN, exactGateRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exactFilteredTopK(pred, queries, 10))
    val badLabels = emb.filter(!pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(r => !badLabels(r._2)))
    // Default pruned probe: still no violators, and the widened probe
    // (sel ~0.5 doubles nProbe) keeps recall usable on the tiny fixture.
    val pruned = AnnOps.ivfPqKnnFilteredBatch(spark, emb, index, attrs,
        pred, model, queries, k = 10, nProbe = 3, exactGateRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pruned.forall(r => !badLabels(r._2)))
    val want = exactFilteredTopK(pred, queries, 10).map(r => (r._1, r._2)).toSet
    val rec = pruned.toSet.intersect(want).size.toDouble / want.size
    assert(rec >= 0.5, s"widened-probe recall too low: $rec")
  }

  test("filtered serve, exact-over-survivors fallback == exact filtered " +
      "top-k (selective predicate under the gate)") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val index = AnnOps.annIndex(spark, emb, model)
    val attrs = emb.select($"vec_id", $"label")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val pred = $"label" === 3
    // Default gate (50 000) >> spec fixture: routes exact. Must equal the
    // ground truth exactly — the fallback has no approximation at all.
    val got = AnnOps.ivfPqKnnFilteredBatch(spark, emb, index, attrs, pred,
        model, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exactFilteredTopK(pred, queries, 10))
    // Output schema parity across routes (the route must be invisible).
    val annRoute = AnnOps.ivfPqKnnFilteredBatch(spark, emb, index, attrs,
      pred, model, queries, k = 10, exactGateRows = 0L)
    assert(AnnOps.ivfPqKnnFilteredBatch(spark, emb, index, attrs, pred,
        model, queries, k = 10).schema == annRoute.schema)
  }

  test("adaptive pool: widens to half the probed volume, never shrinks") {
    // The round-14 hot-region law: max(default, (probed+1)/2), the
    // exact driver twin of the batch plan's `(sum(lsz)+1) div 2`.
    assert(AnnOps.adaptivePool(100, 0L) == 100)
    assert(AnnOps.adaptivePool(100, 199L) == 100)
    assert(AnnOps.adaptivePool(100, 201L) == 101)
    assert(AnnOps.adaptivePool(2250, 41663L) == 20832)
    assert(AnnOps.adaptivePool(100, Long.MaxValue) == Int.MaxValue)
    // Batched default-pool serve ≡ single serve under the adaptive pool
    // on a SKEWED index (one list holds half the corpus) — the pinned
    // equivalence must survive per-query pool widening.
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val model = AnnOps.fitAnnModel(spark, emb, nLists = 4)
    val index = AnnOps.annIndex(spark, emb, model)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qe"))
    val batched = AnnOps.ivfPqKnnBatch(spark, emb, index, model, queries,
        k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    (0L until 3L).foreach { q =>
      val single = AnnOps.ivfPqKnnFromIndex(spark, emb, index, model,
          queryId = q, k = 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(batched.filter(_._1 == q).map(x => (x._2, x._3)).toSeq ==
        single.toSeq, s"query $q: batched == single under adaptive pool")
    }
  }
}
