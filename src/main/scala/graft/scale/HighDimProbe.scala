package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AnnOps, VectorOps}
import graft.plans.PlanStats

/** High-dimension + exact-vs-LSH crossover measurement harness (round-8,
  * VERDICT items 3/4). Every prior scale run used the shipped 64-d corpus;
  * the guards' dim-conservatism arguments were reasoned, not measured.
  * This probe (a) synthesizes a realistic-width (768/1024-d) embedding
  * corpus with planted cluster structure + near-dup pairs, (b) checks the
  * similarity/dedup byte guards actually REROUTE at that width, (c)
  * measures LSH/IVF/PQ recall at that width, and (d) measures the exact
  * kernel vs LSH wall-clock across corpus sizes at 64-d so the compute
  * bound's constant is data-derived, not assumed. Results land in
  * SCALE.md §high-dim.
  *
  * Modes:
  *   gen <outDir> <n> <dims>      — write <outDir>/embeddings.parquet
  *   int8gen <outDir> <n> <dims>  — write the affine-int8 form of the same
  *                                  corpus (the float form never lands)
  *   guard <dir>                  — print guard inputs + taken branch
  *   recall <dir> <dims>          — LSH vs forced-exact top-100 pair recall
  *   knn <dir> <dims>             — IVF/PQ kNN recall@20 vs exact, 5 queries
  *   pqcurve <dir> <dims>         — PQ recall vs candidate-pool size
  *   crossover <dir> <repl,...>   — exact vs LSH time at 2k×repl vectors
  *   lshtime <dir> <dims>         — LSH top-100 pairs wall alone
  *   similarity <dir> <dims>      — the declared top-k pairs operator wall
  *   annscale <dir> <dims> <n,...>  — stored-index build + serve ladder
  *   batchserve <dir> <dims> <n> <q>  — batched vs per-query IVF+PQ serve
  *   batchchunk <dir> <dims> <n> <q> [cmp] [float|int8]
  *                                — chunked batch serve, optional payload
  *   int8knn <dir> <dims> <n> <q> — int8-stored serve recall vs exact float
  *   filtered <dir> <dims> <n> <pct,...>  — predicate-filtered serve recall
  *   hybridbatch <dir> <dims> <q> [idx]   — batched hybrid BM25+ANN serve
  */
object HighDimProbe {

  /** splitmix64 — cheap deterministic per-(id,dim) uniform in [-1, 1). */
  private def u(id: Long, dim: Long): Double = {
    var z = id * 0x9E3779B97F4A7C15L + dim * 0xC2B2AE3D27D4EB4FL + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  private def session(): SparkSession = {
    val s = graft.GraftSession.local(32).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Synthetic corpus: 64 hash-derived cluster centers, each vector =
    * center + 0.35·noise (so near-neighbor structure exists — pure uniform
    * high-dim vectors are all near-orthogonal and top-k pairs would be
    * noise); the last 1% of ids are 0.02-perturbed clones of the first 1%
    * (planted near-dup pairs, ground truth for recall). */
  /** The synthetic corpus as a COMPUTE-ON-READ view (round-16): the
    * int8 rung's whole point is that the float form never touches disk
    * (20 M × 768-d float32 = 61 GB > this box's free space), so the
    * generator is exposed as a deterministic pure-function DataFrame —
    * `gen` writes it, `int8gen` writes its quantized form, and the int8
    * rung's exact-float ground-truth arm reads it directly. */
  private def floatView(s: SparkSession, n: Long, dims: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, 32).as[Long].mapPartitions { it =>
      it.map { id =>
        val planted = id >= n - n / 100
        val base = if (planted) id - (n - n / 100) else id
        val cluster = (base % 64) * 7919L
        val v = new Array[Float](dims)
        var d = 0
        while (d < dims) {
          val center = u(cluster, d)
          val noise = 0.35 * u(base + 1000003L, d)
          val perturb = if (planted) 0.02 * u(id + 2000003L, d) else 0.0
          v(d) = (center + noise + perturb).toFloat
          d += 1
        }
        (id, v.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  private def gen(s: SparkSession, out: String, n: Long, dims: Int): Unit = {
    floatView(s, n, dims)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[gen] wrote $n x $dims to $out/embeddings.parquet")
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select("vec_id", "embedding")

  private def guard(s: SparkSession, dir: String): Unit = {
    val e = emb(s, dir)
    val estRows = PlanStats.estRows(e, 48L)
    val rawBytes = PlanStats.estRawBytes(e)
    val matrixBytes = (rawBytes * 2).max(estRows * 2 * 48L) + estRows * 16
    val computeBound =
      (130000.0 * math.sqrt(s.sparkContext.defaultParallelism)).toLong
    val reroutes = matrixBytes > (512L << 20) || estRows > BigInt(computeBound)
    println(s"[guard] footerStats=${PlanStats.parquetLeafStats(e)}")
    println(s"[guard] estRows=$estRows rawBytes=$rawBytes " +
      s"matrixBytes=$matrixBytes budget=${512L << 20} " +
      s"computeBound=$computeBound")
    println(s"[guard] similarity_topk reroutes=$reroutes " +
      s"byBytes=${matrixBytes > (512L << 20)} " +
      s"byRows=${estRows > BigInt(computeBound)}")
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Shared list_id-partitioned index cache path, keyed on the FULL
    * geometry (ADVICE r16): a path keyed on n alone silently served
    * pq_adc from a stale run's codes with mismatched widths after a
    * dims/nLists/m change, because the model always refits fresh. */
  private def partIdxPath(n: Long, dims: Int, nLists: Int, m: Int): String =
    s"/tmp/graft_annscale_idx_part_${n}_d${dims}_l${nLists}_m$m"

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(s: SparkSession, dir: String, dims: Int): Unit = {
    val e = emb(s, dir)
    val (exact, tExact) = time {
      VectorOps.similarityTopKPairs(s, e, k = 100,
        maxBroadcastBytes = Long.MaxValue, maxExactRows = Long.MaxValue,
        dims = dims).collect()
    }
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val (lsh, tLsh) = time {
      pairSet(AnnOps.lshTopKPairs(s, e, k = 100, dims = dims))
    }
    val rec = (lsh & exactSet).size.toDouble / exactSet.size
    println(f"[recall] dims=$dims exact=$tExact%.1fs lsh=$tLsh%.1fs " +
      f"recall@100=$rec%.3f")
  }

  private def knn(s: SparkSession, dir: String, dims: Int): Unit = {
    import s.implicits._
    val e = emb(s, dir)
    VectorOps.registerFns(s)
    val queries = Seq(0L, 7L, 63L, 128L, 999L)
    def exactTop(q: Long): Set[Long] = {
      val qv = e.filter(col("vec_id") === q).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= q).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          call_function("cosine_sim", col("embedding"), col("qe")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(20)
        .select("vec_id").as[Long].collect().toSet
    }
    val (mPq, dsub) = (dims / 8, 8)
    val ivfRecalls = queries.map { q =>
      val got = AnnOps.ivfKnn(s, e, q, k = 20, nProbe = 3, nLists = 8)
        .select("vec_id").as[Long].collect().toSet
      (got & exactTop(q)).size / 20.0
    }
    println(f"[knn] dims=$dims ivf recall@20 mean=${
      ivfRecalls.sum / ivfRecalls.size}%.3f per-q=${ivfRecalls.mkString(",")}")
    val pqRecalls = queries.map { q =>
      val got = AnnOps.pqKnn(s, e, q, k = 20, m = mPq, dsub = dsub,
          ksub = 16, nCandidates = 100)
        .select("vec_id").as[Long].collect().toSet
      (got & exactTop(q)).size / 20.0
    }
    println(f"[knn] dims=$dims pq(m=$mPq) recall@20 mean=${
      pqRecalls.sum / pqRecalls.size}%.3f per-q=${pqRecalls.mkString(",")}")
  }

  /** PQ recall@20 as a function of the ADC candidate-pool size — the
    * quality knob the 768-d study left unmeasured. */
  private def pqCurve(s: SparkSession, dir: String, dims: Int): Unit = {
    import s.implicits._
    val e = emb(s, dir)
    VectorOps.registerFns(s)
    val queries = Seq(0L, 7L, 63L, 128L, 999L)
    def exactTop(q: Long): Set[Long] = {
      val qv = e.filter(col("vec_id") === q).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= q).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          call_function("cosine_sim", col("embedding"), col("qe")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(20)
        .select("vec_id").as[Long].collect().toSet
    }
    val truth = queries.map(q => q -> exactTop(q)).toMap
    Seq(100, 200, 400, 800).foreach { nc =>
      val recs = queries.map { q =>
        val got = AnnOps.pqKnn(s, e, q, k = 20, m = dims / 8, dsub = 8,
            ksub = 16, nCandidates = nc)
          .select("vec_id").as[Long].collect().toSet
        (got & truth(q)).size / 20.0
      }
      println(f"[pqcurve] dims=$dims nCandidates=$nc recall@20 mean=${
        recs.sum / recs.size}%.3f per-q=${recs.mkString(",")}")
    }
  }

  /** ScaleGen replicas shift vec_id by 1e8 per replica; taking replicas
    * [0, r) = filter(vec_id < r·1e8) subsamples to r×2k vectors without a
    * shuffle. */
  private def crossover(s: SparkSession, dir: String, repls: Seq[Int]): Unit = {
    val e = emb(s, dir)
    repls.foreach { r =>
      val sub = e.filter(col("vec_id") < r * 100000000L)
      val n = sub.count()
      val (exactSet, tExact) = time {
        VectorOps.similarityTopKPairs(s, sub, k = 100,
          maxBroadcastBytes = Long.MaxValue, maxExactRows = Long.MaxValue)
          .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      }
      val (lshSet, tLsh) = time { pairSet(AnnOps.lshTopKPairs(s, sub, 100)) }
      val rec = (lshSet & exactSet).size.toDouble / exactSet.size
      val rate = n.toDouble * n / 2.0 /
        math.max(tExact, 1e-9) / s.sparkContext.defaultParallelism
      println(f"[crossover] n=$n exact=$tExact%.1fs lsh=$tLsh%.1fs " +
        f"recall@100=$rec%.3f exactPairsPerSecPerCore=$rate%.3g")
    }
  }

  /** ANN build + serve scaling at realistic width (round-11, VERDICT r10
    * item 5): for each corpus prefix size, time the MODEL FIT (IVF kmeans
    * + PQ codebooks — sampled, so ~flat in n), the INDEX BUILD (one full
    * quantization pass, written to parquet — the ingest-time cost that
    * must scale linearly), and the per-query serve path over the STORED
    * index (ivf/pqKnnFromIndex — the production read shape), with
    * recall@20 vs the exact scan. nLists scales ~√(n/1000) so list sizes
    * grow sub-linearly, the knob a 100 TB deployment turns. */
  private def annScale(s: SparkSession, dir: String, dims: Int,
      sizes: Seq[Long]): Unit = {
    import s.implicits._
    val full = emb(s, dir)
    VectorOps.registerFns(s)
    val queries = Seq(0L, 7L, 63L, 128L, 999L)
    sizes.foreach { n =>
      val e = full.filter(col("vec_id") < n)
      val nLists = math.max(8, math.sqrt(n / 1000.0).toInt)
      val (model, tFit) = time {
        AnnOps.fitAnnModel(s, e, nLists = nLists, m = dims / 8,
          dsub = 8, ksub = 16)
      }
      println(f"[annscale] n=$n fit done ($tFit%.1f s)")
      val idxPath = s"/tmp/graft_annscale_idx_$n"
      val (_, tBuild) = time {
        AnnOps.annIndex(s, e, model).write.mode("overwrite").parquet(idxPath)
      }
      println(f"[annscale] n=$n build done ($tBuild%.1f s)")
      val stored = s.read.parquet(idxPath)
      def exactTop(q: Long): Set[Long] = {
        val qv = e.filter(col("vec_id") === q).select(col("embedding").as("qe"))
        e.filter(col("vec_id") =!= q).crossJoin(broadcast(qv))
          .select(col("vec_id"),
            call_function("cosine_sim", col("embedding"), col("qe")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(20)
          .select("vec_id").as[Long].collect().toSet
      }
      val truth = queries.map { q =>
        val t = exactTop(q)
        println(s"[annscale] n=$n truth q=$q done")
        q -> t
      }.toMap
      val nProbe = math.max(3, nLists / 8)
      val (ivfR, tIvf) = time {
        queries.map { q =>
          val got = AnnOps.ivfKnnFromIndex(s, e, stored, model, q, k = 20,
              nProbe = nProbe)
            .select("vec_id").as[Long].collect().toSet
          (got & truth(q)).size / 20.0
        }
      }
      val (pqR, tPq) = time {
        queries.map { q =>
          val got = AnnOps.pqKnnFromIndex(s, e, stored, model, q, k = 20)
            .select("vec_id").as[Long].collect().toSet
          (got & truth(q)).size / 20.0
        }
      }
      // Composed IVF+PQ (round-12, VERDICT r11 item 2): ADC only within
      // the probed lists — the serve that replaces the corpus-linear
      // flat ADC scan above.
      val (cR, tC) = time {
        queries.map { q =>
          val got = AnnOps.ivfPqKnnFromIndex(s, e, stored, model, q,
              k = 20, nProbe = nProbe)
            .select("vec_id").as[Long].collect().toSet
          (got & truth(q)).size / 20.0
        }
      }
      println(f"[annscale] n=$n dims=$dims nLists=$nLists nProbe=$nProbe " +
        f"fit=$tFit%.1fs build=$tBuild%.1fs " +
        f"ivfQ=${tIvf / queries.size}%.2fs/q recall@20=${
          ivfR.sum / ivfR.size}%.3f " +
        f"pqQ=${tPq / queries.size}%.2fs/q recall@20=${pqR.sum / pqR.size}%.3f " +
        f"ivfpqQ=${tC / queries.size}%.2fs/q recall@20=${cR.sum / cR.size}%.3f")
    }
  }

  /** Batched multi-query serve rung (round-13, VERDICT r12 item 5): the
    * amortized s/q of [[AnnOps.ivfPqKnnBatch]] over a large query frame
    * vs the single-query composed serve's two-driver-actions-per-query
    * shape, on the same stored list_id-partitioned index at the same
    * DEFAULT pool. Also spot-checks batched ≡ single for sample queries
    * at this tier (AnnSpec pins it at the sf tiers). */
  private def batchServe(s: SparkSession, dir: String, dims: Int, n: Long,
      nQueries: Int): Unit = {
    import s.implicits._
    val e = emb(s, dir).filter(col("vec_id") < n)
    VectorOps.registerFns(s)
    val nLists = math.max(8, math.sqrt(n / 1000.0).toInt)
    val (model, tFit) = time {
      AnnOps.fitAnnModel(s, e, nLists = nLists, m = dims / 8,
        dsub = 8, ksub = 16)
    }
    val idxPath = partIdxPath(n, dims, nLists, model.m)
    val (_, tBuild) = time {
      AnnOps.annIndex(s, e, model)
        .write.mode("overwrite").partitionBy("list_id").parquet(idxPath)
    }
    val stored = s.read.parquet(idxPath).select("vec_id", "list_id", "codes")
    val nProbe = math.max(3, nLists / 8)
    // Single-query baseline sample (the r12 measured ids) restricted to
    // ids that exist in BOTH the corpus and the batch — a hardcoded 999
    // with nQueries <= 999 reported phantom mismatches (review round-13).
    val singleQ = Seq(0L, 7L, 63L, 128L, 999L)
      .filter(_ < math.min(n, nQueries.toLong))
    require(singleQ.nonEmpty, s"nQueries=$nQueries too small for the probe")
    val (_, tSingle) = time {
      singleQ.foreach { q =>
        AnnOps.ivfPqKnnFromIndex(s, e, stored, model, q, k = 20,
          nProbe = nProbe).collect()
      }
    }
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (batchRows, tBatch) = time {
      AnnOps.ivfPqKnnBatch(s, e, stored, model, queries, k = 20,
        nProbe = nProbe).collect()
    }
    // Row-for-row equality vs the single serve for sample queries.
    val byQ = batchRows.groupBy(_.getLong(0))
    val mism = singleQ.count { q =>
      val single = AnnOps.ivfPqKnnFromIndex(s, e, stored, model, q, k = 20,
          nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      byQ.getOrElse(q, Array.empty).sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq != single
    }
    println(f"[batchserve] n=$n dims=$dims nLists=$nLists nProbe=$nProbe " +
      f"fit=$tFit%.1fs build=$tBuild%.1fs " +
      f"singleQ=${tSingle / singleQ.size}%.2fs/q " +
      f"batch=${nQueries} queries in $tBatch%.1fs = ${
        tBatch / nQueries}%.3fs/q " +
      f"amortization=${tSingle / singleQ.size / (tBatch / nQueries)}%.1fx " +
      f"sample_mismatches=$mism rows=${batchRows.length}")
  }

  /** Chunked batch-serve rung (round-16, VERDICT r15 item 1): the
    * batch-size axis the r15 rung died on — 1000 queries' pooled rerank
    * exceeded this box's disk once the candidate frame outgrew the
    * broadcast gate and the planner re-shuffled the corpus per batch.
    * [[AnnOps.ivfPqKnnBatchChunked]] bounds the in-flight rerank to one
    * 256 MB-budget chunk at a time; this rung proves the 1000-query batch
    * COMPLETES at the big tier and (with `cmp`) that chunked ≡ unchunked
    * row-identically at a tier where the unchunked serve is tractable. */
  private def batchChunk(s: SparkSession, dir: String, dims: Int, n: Long,
      nQueries: Int, compare: Boolean, payload: String = "none"): Unit = {
    val e = emb(s, dir).filter(col("vec_id") < n)
    VectorOps.registerFns(s)
    val nLists = math.max(8, math.sqrt(n / 1000.0).toInt)
    val (model, tFit) = time {
      AnnOps.fitAnnModel(s, e, nLists = nLists, m = dims / 8,
        dsub = 8, ksub = 16)
    }
    // Payload-carrying indexes cache under their own geometry key — the
    // rerank columns change the stored schema, a plain-index cache must
    // never serve a payload run or vice versa (ADVICE r16 precedent).
    val idxPath = partIdxPath(n, dims, nLists, model.m) +
      (if (payload == "none") "" else s"_p$payload")
    val tBuild = if (!new java.io.File(idxPath).isDirectory) {
      val (_, t) = time {
        AnnOps.annIndex(s, e, model, payload)
          .write.mode("overwrite").partitionBy("list_id").parquet(idxPath)
      }
      t
    } else 0.0
    val payloadCols = payload match {
      case "float" => Seq("p_vec")
      case "int8" => Seq("p_min", "p_scale", "p_codes")
      case _ => Seq.empty
    }
    val stored = s.read.parquet(idxPath)
      .select((Seq("vec_id", "list_id", "codes") ++ payloadCols)
        .map(col): _*)
    val nProbe = math.max(3, nLists / 8)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // Round-18 experiment knob: chunk budget (bytes). Probe-side only —
    // unset (-1) = AnnOps's memory-derived default.
    val chunkBudget = sys.env.get("GRAFT_ANN_CHUNK_BUDGET").map(_.toLong)
      .getOrElse(-1L)
    val (chunkRows, tChunk) = time {
      AnnOps.ivfPqKnnBatchChunked(s, e, stored, model, queries, k = 20,
        nProbe = nProbe, chunkBudgetBytes = chunkBudget).collect()
    }
    println(f"[batchchunk] n=$n dims=$dims nLists=$nLists nProbe=$nProbe " +
      f"payload=$payload fit=$tFit%.1fs build=$tBuild%.1fs " +
      f"chunked: $nQueries queries in $tChunk%.1fs = " +
      f"${tChunk / nQueries}%.3fs/q rows=${chunkRows.length}")
    if (compare) {
      // The control arm reranks from the CORPUS (plain-index serve): a
      // float-payload chunked serve must match it row-for-row — payload
      // carriage and chunk slicing are both result-invisible. (int8
      // payload is a different rerank grid; compare only the plain arm.)
      val plainIdx = stored.select("vec_id", "list_id", "codes")
      val (batchRows, tBatch) = time {
        AnnOps.ivfPqKnnBatch(s, e, plainIdx, model, queries, k = 20,
          nProbe = nProbe).collect()
      }
      val same = chunkRows.map(_.toSeq).toSeq == batchRows.map(_.toSeq).toSeq
      println(f"[batchchunk] unchunked control: $tBatch%.1fs " +
        f"rows=${batchRows.length} chunked_equals_unchunked=$same")
      if (payload != "int8")
        require(same, "chunked batch serve diverged from unchunked")
    }
  }

  /** int8-width rung, generation half (round-16, VERDICT r15 item 2):
    * quantize the synthetic corpus THROUGH the library law
    * ([[AnnOps.quantizeInt8]]) in the same pass that generates it — the
    * float corpus exists only as the compute-on-read view. 20 M × 768-d
    * lands ≈ 15 GB instead of 61. */
  private def genInt8(s: SparkSession, out: String, n: Long,
      dims: Int): Unit = {
    AnnOps.quantizeInt8(floatView(s, n, dims))
      .write.mode("overwrite").parquet(s"$out/embeddings_int8.parquet")
    println(s"[int8gen] wrote $n x $dims to $out/embeddings_int8.parquet")
  }

  /** int8-width rung, serve half: fit + composed IVF+PQ index over the
    * DEQUANTIZED view (one-time scans), chunked batch serve with the
    * exact rerank dequantizing only the joined shortlist
    * (`rerankInt8`), recall measured against the exact FLOAT top-k from
    * the regenerated view — the end-to-end cost of storage quantization
    * + PQ together, which is what a 100 TB int8 deployment actually
    * pays. */
  private def int8Knn(s: SparkSession, dir: String, dims: Int, n: Long,
      nQueries: Int): Unit = {
    VectorOps.registerFns(s)
    val stored8 = s.read.parquet(s"$dir/embeddings_int8.parquet")
    // The generator's planted-clone tail is a function of the GENERATED
    // corpus size (ids ≥ genN − genN/100 clone the head), so the float
    // ground-truth view must regenerate at genN, not at the serve's n —
    // a sub-tier run otherwise scores recall against vectors the stored
    // corpus never contained (round-16 code review).
    val genN = stored8.agg(max(col("vec_id"))).head.getLong(0) + 1
    require(n <= genN, s"serve n=$n exceeds the generated corpus $genN")
    val int8 = stored8.filter(col("vec_id") < n)
    val deq = AnnOps.dequantInt8(int8)
    val nLists = math.max(8, math.sqrt(n / 1000.0).toInt)
    val (model, tFit) = time {
      AnnOps.fitAnnModel(s, deq, nLists = nLists, m = dims / 8,
        dsub = 8, ksub = 16)
    }
    // Geometry-keyed like partIdxPath (ADVICE r16).
    val idxPath = s"/tmp/graft_annscale_idx_int8_${n}_d${dims}_" +
      s"l${nLists}_m${model.m}"
    val tBuild = if (!new java.io.File(idxPath).isDirectory) {
      val (_, t) = time {
        AnnOps.annIndex(s, deq, model)
          .write.mode("overwrite").partitionBy("list_id").parquet(idxPath)
      }
      t
    } else 0.0
    val stored = s.read.parquet(idxPath).select("vec_id", "list_id", "codes")
    val nProbe = math.max(3, nLists / 8)
    val fv = floatView(s, genN, dims).filter(col("vec_id") < n)
    val queries = fv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (got, tServe) = time {
      AnnOps.ivfPqKnnBatchChunked(s, deq, stored, model, queries, k = 20,
        nProbe = nProbe, rerankInt8 = Some(int8))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    // Exact FLOAT ground truth for a bounded query sample (linear in the
    // corpus per query — the budget that sets the sample size).
    val nTruth = math.min(nQueries, 20)
    val tq = fv.filter(col("vec_id") < nTruth)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    import org.apache.spark.sql.expressions.Window
    val truth = fv.crossJoin(broadcast(tq))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byQ = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = (0L until nTruth.toLong).map { q =>
      val t = truth.getOrElse(q, Set.empty)
      if (t.isEmpty) 1.0
      else byQ.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    println(f"[int8knn] n=$n dims=$dims nLists=$nLists nProbe=$nProbe " +
      f"fit=$tFit%.1fs build=$tBuild%.1fs " +
      f"serve: $nQueries queries in $tServe%.1fs = " +
      f"${tServe / nQueries}%.3fs/q " +
      f"recall@20_vs_float_exact=${recalls.sum / recalls.size}%.3f " +
      f"(over $nTruth queries) rows=${got.length}")
  }

  /** Predicate-filtered serve at scale (round-14, VERDICT r13 item 1):
    * recall of [[AnnOps.ivfPqKnnFilteredBatch]] vs the exact FILTERED
    * top-20, at each given selectivity (percent of the corpus surviving a
    * label predicate, label = vec_id % 100), plus the same serve with the
    * probe widening DISABLED (raw nProbe over the filtered index) so the
    * widening's contribution is measured, not asserted. 1 % of 2 M =
    * 20 k survivors routes through the exact-fallback gate by design —
    * the printed route names which path served. */
  private def filteredServe(s: SparkSession, dir: String, dims: Int,
      n: Long, selPcts: Seq[Int]): Unit = {
    val e = emb(s, dir).filter(col("vec_id") < n)
    VectorOps.registerFns(s)
    val nLists = math.max(8, math.sqrt(n / 1000.0).toInt)
    val model = AnnOps.fitAnnModel(s, e, nLists = nLists, m = dims / 8,
      dsub = 8, ksub = 16)
    val idxPath = partIdxPath(n, dims, nLists, model.m)
    if (!new java.io.File(idxPath).isDirectory)
      AnnOps.annIndex(s, e, model)
        .write.mode("overwrite").partitionBy("list_id").parquet(idxPath)
    val stored = s.read.parquet(idxPath).select("vec_id", "list_id", "codes")
    val attrs = e.select(col("vec_id"),
      pmod(col("vec_id"), lit(100)).cast("int").as("label"))
    val qids = Seq(0L, 7L, 63L, 128L, 999L).filter(_ < n)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val nProbe = math.max(3, nLists / 8)
    selPcts.foreach { pct =>
      val pred = col("label") < pct
      val nSurv = attrs.filter(pred).count()
      val route = if (nSurv <= 50000L) "exact-fallback" else "ann-widened"
      val (got, tServe) = time {
        AnnOps.ivfPqKnnFilteredBatch(s, e, stored, attrs, pred, model,
          queries, k = 20, nProbe = nProbe)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      // Exact filtered ground truth: 5 queries × survivors, linear.
      import org.apache.spark.sql.expressions.Window
      val exact = e.join(attrs.filter(pred).select("vec_id"),
          Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
            .as("sim"))
        .withColumn("rank", row_number().over(Window
          .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rank") <= 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def rec(a: Set[(Long, Long)]) =
        if (exact.isEmpty) 1.0 else a.intersect(exact).size.toDouble / exact.size
      val recWide = rec(got.toSet)
      // Widening OFF: the raw nProbe over the pre-filtered index at the
      // same pinned pool — the silent-starvation shape the serve avoids.
      val pool = AnnOps.pqPoolFor(dims, graft.plans.PlanStats.estRows(
        stored, 20L + model.m * 4L, decompressionFactor = 1))
      val fixed = AnnOps.ivfPqKnnBatch(s, e,
          stored.join(broadcast(attrs.filter(pred).select("vec_id")),
            Seq("vec_id"), "left_semi"),
          model, queries, k = 20, nProbe = nProbe, nCandidates = pool)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recFixed = rec(fixed)
      println(f"[filtered] n=$n dims=$dims sel=$pct%% survivors=$nSurv " +
        f"route=$route nProbe=$nProbe nLists=$nLists t=$tServe%.1fs " +
        f"recall@20=$recWide%.3f recall_fixed_probe=$recFixed%.3f")
    }
  }

  /** Batched hybrid-serve rung (round-14, VERDICT r13 item 8's missing
    * 2 M-tier s/query): BM25 lexical arm over the replica documents +
    * batched IVF+PQ vector arm + min-max fusion in ONE plan, vs the
    * single-query composition — the s/query amortization printed next to
    * the batched-ANN number. Requires a dir carrying BOTH documents and
    * embeddings (the sfx replica). */
  private def hybridBatch(s: SparkSession, dir: String, dims: Int,
      nQueries: Int, useInvIndex: Boolean = false): Unit = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val e = emb(s, dir)
    // Index-backed lexical arm (round-14): pay the inverted-index +
    // norms ingest ONCE (reported), then serve every batch from the
    // stored postings — the 100 TB shape where the corpus text is never
    // re-tokenized at query time.
    val invPair = if (!useInvIndex) None else Some {
      val invPath = s"/tmp/graft_hybrid_inv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      // Reuse only a COMPLETE prior ingest: both writes' _SUCCESS
      // markers must exist (a crash between the two writes, or a
      // half-finished run, must rebuild — code review round-14).
      val complete = Seq("inv", "norms").forall(p =>
        new java.io.File(s"$invPath/$p/_SUCCESS").isFile)
      if (!complete) {
        val (_, tInv) = time {
          graft.operators.CurationOps3.invertedIndex(docs)
            .write.mode("overwrite").parquet(s"$invPath/inv")
          graft.operators.CorpusOps.docNorms(docs)
            .write.mode("overwrite").parquet(s"$invPath/norms")
        }
        println(f"[hybridbatch] inverted index + norms ingest: $tInv%.1fs")
      }
      (s.read.parquet(s"$invPath/inv"), s.read.parquet(s"$invPath/norms"))
    }
    VectorOps.registerFns(s)
    val n = graft.plans.PlanStats.estRows(e, 16L).toLong
    val nLists = math.max(8, math.sqrt(n / 1000.0).toInt)
    val nProbe = math.max(3, nLists / 8)
    val (model, tFit) = time {
      AnnOps.fitAnnModel(s, e, nLists = nLists, m = dims / 8,
        dsub = 8, ksub = 16)
    }
    // Per-DIR path, not the estRows-keyed annscale path: another rung
    // may have built that one from a filtered slice under a different
    // model, and stored codes only decode under the codebooks that
    // produced them (code review round-14). fitAnnModel is deterministic
    // for a given corpus, so a complete prior build here is reusable.
    val idxPath =
      s"/tmp/graft_hybrid_annidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    if (!new java.io.File(s"$idxPath/_SUCCESS").isFile)
      AnnOps.annIndex(s, e, model)
        .write.mode("overwrite").partitionBy("list_id").parquet(idxPath)
    val stored = s.read.parquet(idxPath).select("vec_id", "list_id", "codes")
    val pool = Seq("column", "window", "value", "small", "spark", "stream",
      "order", "customer", "big", "data", "vector", "slow")
    def termsFor(q: Long): Seq[String] =
      Seq(pool((q % 12).toInt), pool(((q + 5) % 12).toInt))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val terms = (0L until nQueries.toLong)
      .flatMap(q => termsFor(q).map(t => (q, t)))
      .toDF("query_id", "term")
    val (batchRows, tBatch) = time {
      graft.operators.IndexOps.hybridBlendBatch(s, docs, e, stored, model,
          queries, terms, k = 10, nProbe = nProbe, invIndex = invPair)
        .collect()
    }
    // Single-query composition baseline on 3 sample queries.
    val singleQ = Seq(0L, 1L, 2L).filter(_ < nQueries)
    val (singles, tSingle) = time {
      singleQ.map { q =>
        q -> graft.operators.IndexOps.hybridBlendBatch(s, docs, e, stored,
            model, queries.filter(col("query_id") === q),
            terms.filter(col("query_id") === q), k = 10, nProbe = nProbe,
            invIndex = invPair)
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    }
    val byQ = batchRows.groupBy(_.getLong(0))
    val mism = singles.count { case (q, single) =>
      byQ.getOrElse(q, Array.empty).sortBy(_.getLong(5))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq != single
    }
    println(f"[hybridbatch] n=$n dims=$dims nQueries=$nQueries " +
      f"nProbe=$nProbe fit=$tFit%.1fs " +
      f"single=${tSingle / singleQ.size}%.2fs/q " +
      f"batch=$tBatch%.1fs = ${tBatch / nQueries}%.3fs/q " +
      f"amortization=${tSingle / singleQ.size / (tBatch / nQueries)}%.1fx " +
      f"sample_mismatches=$mism rows=${batchRows.length}")
  }

  def main(args: Array[String]): Unit = {
    val s = session()
    try args(0) match {
      case "gen" => gen(s, args(1), args(2).toLong, args(3).toInt)
      case "batchserve" =>
        batchServe(s, args(1), args(2).toInt, args(3).toLong, args(4).toInt)
      case "batchchunk" =>
        batchChunk(s, args(1), args(2).toInt, args(3).toLong, args(4).toInt,
          compare = args.drop(5).contains("cmp"),
          payload = args.drop(5).find(Set("float", "int8"))
            .getOrElse("none"))
      case "int8gen" => genInt8(s, args(1), args(2).toLong, args(3).toInt)
      case "int8knn" =>
        int8Knn(s, args(1), args(2).toInt, args(3).toLong, args(4).toInt)
      case "filtered" =>
        filteredServe(s, args(1), args(2).toInt, args(3).toLong,
          args(4).split(",").toSeq.map(_.toInt))
      case "hybridbatch" =>
        hybridBatch(s, args(1), args(2).toInt, args(3).toInt,
          useInvIndex = args.lift(4).contains("idx"))
      case "annscale" =>
        annScale(s, args(1), args(2).toInt,
          args(3).split(",").toSeq.map(_.toLong))
      case "guard" => guard(s, args(1))
      case "recall" => recall(s, args(1), args(2).toInt)
      case "knn" => knn(s, args(1), args(2).toInt)
      case "pqcurve" => pqCurve(s, args(1), args(2).toInt)
      case "crossover" =>
        crossover(s, args(1), args(2).split(",").toSeq.map(_.toInt))
      case "lshtime" =>
        // The rerouted (production) path alone — for corpora where the
        // exact baseline is not tractable.
        val e = emb(s, args(1))
        val (n, t) = time {
          AnnOps.lshTopKPairs(s, e, k = 100, dims = args(2).toInt).count()
        }
        println(f"[lshtime] rows=$n t=$t%.1fs")
      case "similarity" =>
        // The DECLARED operator end-to-end: guard decision + whichever
        // path it picks.
        val e = emb(s, args(1))
        val (n, t) = time {
          VectorOps.similarityTopKPairs(s, e, k = 100,
            dims = args(2).toInt).count()
        }
        println(f"[similarity] rows=$n t=$t%.1fs")
    } finally s.stop()
  }
}
