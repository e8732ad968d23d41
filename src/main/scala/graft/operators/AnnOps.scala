package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor scale paths for embedding similarity
  * (SURVEY §2-K3 "scale path"; PAPERS.md top-k similarity line).
  *
  * Two standard index structures, both pure DataFrame + codegen
  * expressions, both deterministic:
  *
  *  - **SRP-LSH** (signed random projections): `nBits` deterministic
  *    hyperplanes → per-vector bit signature → banded bucket keys →
  *    equi-join candidates → exact cosine re-rank. Cross-join-free: the
  *    only shuffle is the (band, bucket) equi-join — the 100 TB shape.
  *  - **IVF** (inverted file): per-cluster centroids → each vector assigned
  *    to its nearest centroid (the inverted lists) → a query probes the
  *    `nProbe` nearest lists only. At 100 TB the lists are Hive/parquet
  *    partitions keyed by centroid id, so probing = partition pruning.
  *
  * Recall vs the exact kernel is asserted in AnnSpec (no SQL oracle —
  * approximate results; the exact baselines remain the verified truth).
  */
object AnnOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Deterministic pseudo-random hyperplane component in [-1, 1) —
    * delegates to the native kernel's formula so plane values are shared. */
  private def planeComponent(plane: Int, dim: Int): Double =
    graft.functions.SrpBandKeys.planeComponent(plane, dim)

  private def plane(i: Int, dims: Int): Seq[Double] =
    (0 until dims).map(j => planeComponent(i, j))

  /** Packed per-band bit signatures as ONE array<long> column:
    * element b's bit i = (v · plane(b·bitsPerBand+i)) > 0. Round-8: the
    * former per-bit column formulation (nBits dot_product calls over
    * nBits typedLit planes) fell out of whole-stage codegen at realistic
    * embedding widths — 76 s for a 20 k×768-d signature pass, interpreted
    * — so the signature is now the native one-pass
    * [[graft.functions.SrpBandKeys]] kernel (bit-identical keys; sub-
    * second at the same shape). */
  private def bandSig(v: Column, nBits: Int, bands: Int, dims: Int): Column =
    call_function("srp_band_keys", v, lit(nBits), lit(bands), lit(dims))

  /** Shared SRP-LSH candidate → exact-rerank pipeline (also used by
    * AnnSpec). Returns the approximate global top-k pairs. */
  def lshTopKPairs(s: SparkSession, emb: DataFrame, k: Int, nBits: Int = 48,
      bands: Int = 8, dims: Int = 64): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    // 6-bit bands: for a sim≈0.4 pair the per-bit collision prob is ~0.63
    // (1 - acos(s)/π), so P(candidate) ≈ 1-(1-0.63^6)^8 ≈ 0.4, while random
    // near-orthogonal pairs collide at ~0.5^6 per band → ~12% candidate
    // volume. nBits/bands are the FLOOR; srpCandidatePairs widens bands
    // with corpus size (see its scaladoc).
    VectorOps.registerFns(s)
    // Top-k output is BOUNDED, so oversized buckets star-collapse
    // (bucketCap): duplicate-heavy corpora stay linear (see
    // srpCandidatePairs).
    // Band auto-sizing reads the corpus cardinality from PlanStats
    // (round-8): exact via parquet footers / plan rowCount, zero Spark
    // jobs at construction — replaces the round-7 eager emb.count().
    val cands = srpCandidatePairs(s, emb, nBits, bands, dims,
      graft.plans.PlanStats.estRows(emb, 48L).min(BigInt(Long.MaxValue)).toLong,
      bucketCap = 256)
    rejoinCosine(emb, cands)
      .select(col("a_id"), col("b_id"),
        round(col("sim_raw"), 6).as("sim"))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(k)
  }

  /** Banded SRP candidate generation carrying ONLY ids: the band equi-join
    * and the (a_id, b_id) distinct shuffle 24-byte rows, never embedding
    * payloads. The round-4 10× scale run caught the payload-carrying
    * version shuffling ~27 GB of duplicated vectors through the candidate
    * dedup (665 s on one stage at 20 k vecs with planted clone cliques);
    * id-only candidates are the 100 TB shape — vectors re-join AFTER the
    * dedup, touching each surviving pair once. */
  /** Auto-sized band width (round-5 100× finding): with FIXED 6-bit bands
    * the expected random-collision bucket occupancy is n/64, so per-band
    * candidate volume Σ B²/2 grows QUADRATICALLY in corpus size — the
    * 100× run (200 k vectors) generated ~2.5 B candidate rows and died on
    * >46 GB of sort spill. Widening each band to
    * ceil(log2(n / targetOccupancy)) bits pins expected occupancy at
    * ~targetOccupancy, making candidate volume ≈ bands·n·occupancy/2 —
    * LINEAR in n. High-sim pairs (the dedup/top-k signal) keep colliding:
    * at sim 0.95 a 12-bit band still matches with p≈0.31, ≥1-of-8 ≈ 0.95.
    * At spec scale (n = 2 k) the sizing floors at the declared
    * nBits/bands, so the recall contracts are unchanged. */
  private def bitsPerBandFor(n: Long, floorBits: Int,
      targetOccupancy: Int = 64): Int =
    math.max(floorBits, math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0))
      .toInt)

  /** `bucketCap` (round-5 1000× finding): band-width auto-sizing pins
    * RANDOM bucket occupancy, but EXACT-DUPLICATE cliques collide in
    * every band no matter how many bits — at clone multiplicity m each
    * clique contributes Ω(m²) candidates (the ×1000 corpus, where every
    * vector is a 1000-clone, generated ~8·10⁹ id pairs and died on spill).
    * With a cap, buckets larger than it STAR-COLLAPSE: every member pairs
    * only with the bucket's min-id representative — candidate volume
    * linear in bucket size, near-dup CONNECTIVITY preserved (every clone
    * reaches its rep; sim-1.0 star pairs carry the same top-k signal as
    * the all-pairs clique, and downstream dedup clustering is a
    * transitive closure, where the star is sufficient). The standard
    * production LSH treatment of degenerate buckets. cap < 0 disables
    * (the threshold-pairs path keeps all-pairs: its CONTRACT is every
    * pair ≥ t, an output already quadratic in clone multiplicity). */
  private def srpCandidatePairs(s: SparkSession, emb: DataFrame,
      nBits: Int, bands: Int, dims: Int, n: Long,
      bucketCap: Int = -1): DataFrame = {
    val bpb = bitsPerBandFor(n, nBits / bands)
    val banded = emb.select(col("vec_id"),
        posexplode(bandSig(col("embedding"), bpb * bands, bands, dims)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    // The band self-join + star-collapse cap lives in the SHARED helper
    // (round-13; the MinHash path uses the same one — VERDICT r12).
    BandJoin.candidatePairs(banded, Seq("band", "bucket"), "vec_id",
      bucketCap)
  }

  /** Re-join the vector table to an (a_id, b_id) candidate set and attach
    * the exact cosine as `sim_raw` — two equi-joins on id keys. */
  private def rejoinCosine(emb: DataFrame, cands: DataFrame): DataFrame = {
    val ea = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    cands.join(ea, "a_id").join(eb, "b_id")
      .withColumn("sim_raw", call_function("cosine_sim", col("ea"), col("eb")))
  }

  /** Threshold twin of [[lshTopKPairs]]: ALL candidate pairs whose exact
    * cosine clears `threshold` (no top-k cut). This is the bucketed scale
    * path [[graft.operators.VectorOps.dedupEmbeddingPairs]] reroutes to
    * above its exact-quadratic bound — the only shuffles are the band-key
    * equi-join and the candidate distinct, never a cross join. */
  def lshThresholdPairs(s: SparkSession, emb: DataFrame, threshold: Double,
      nBits: Int = 48, bands: Int = 8, dims: Int = 64): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    VectorOps.registerFns(s)
    // Zero-job band sizing — see lshTopKPairs (round-8).
    val cands = srpCandidatePairs(s, emb, nBits, bands, dims,
      graft.plans.PlanStats.estRows(emb, 48L).min(BigInt(Long.MaxValue)).toLong)
    rejoinCosine(emb, cands)
      .filter(col("sim_raw") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim_raw"), 6).as("sim"))
      .orderBy("a_id", "b_id")
  }

  /** Cross-set SRP-LSH contamination probe: ids from `corp` whose exact
    * cosine against ANY `eval` vector clears `threshold` (approximate
    * recall — a corp/eval near-pair that never shares a band bucket is
    * missed, the standard LSH trade). Both sides are banded with the SAME
    * deterministic hyperplanes, so near-duplicates collide; candidates
    * are corp×eval bucket COLLISIONS only — corp×corp pairs are never
    * formed, which is what makes this the 100 TB decontamination shape
    * (the within-corpus threshold-pair kernel is output-quadratic in
    * clone multiplicity; the cross-set probe stays linear in corp size
    * for any bounded eval set). Band width auto-scales with the LARGER
    * side's cardinality via [[bitsPerBandFor]]. */
  def lshCrossContaminatedIds(s: SparkSession, corp: DataFrame,
      eval: DataFrame, threshold: Double, nBits: Int = 48, bands: Int = 8,
      dims: Int = 64): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    VectorOps.registerFns(s)
    // Zero-job band sizing from the LARGER side's PlanStats estimate
    // (round-8) — replaces two eager count() jobs per construction.
    val n = graft.plans.PlanStats.estRows(corp, 48L)
      .max(graft.plans.PlanStats.estRows(eval, 48L))
      .min(BigInt(Long.MaxValue)).toLong
    val bpb = bitsPerBandFor(n, nBits / bands)
    def banded(df: DataFrame, idAs: String) =
      df.select(col("vec_id"),
          posexplode(bandSig(col("embedding"), bpb * bands, bands, dims)))
        .select(col("vec_id").as(idAs), col("pos").as("band"),
          col("col").as("bucket"))
    val cands = banded(corp, "corp_id")
      .join(banded(eval, "eval_id"), Seq("band", "bucket"))
      .select("corp_id", "eval_id")
      .dropDuplicates("corp_id", "eval_id")
    val ec = corp.select(col("vec_id").as("corp_id"),
      col("embedding").as("ec"))
    val ee = eval.select(col("vec_id").as("eval_id"),
      col("embedding").as("ev"))
    cands.join(ec, "corp_id").join(ee, "eval_id")
      .filter(call_function("cosine_sim", col("ec"), col("ev")) >= threshold)
      .select(col("corp_id").as("vec_id"))
      .distinct()
  }

  /** K3-scale — approximate top-k most-similar pairs via banded SRP-LSH. */
  val annLshTopK = Q.noOracle("ann_lsh_topk") { (s, dir) =>
    lshTopKPairs(s, t(s, dir, "embeddings"), k = 100)
  }

  /** IVF coarse-quantizer fit: k-means centroids (ClusterOps.kmeansFit —
    * deterministic seeding, empty clusters keep their previous centroid).
    * A real corpus has no label column, so the coarse quantizer must be
    * LEARNED; the k×d model is a bounded driver-held index constant, the
    * standard IVF build shape. */
  def ivfFit(s: SparkSession, emb: DataFrame,
      nLists: Int): Seq[(Int, Seq[Double])] =
    ClusterOps.kmeansFit(s,
      emb.select(col("vec_id"), col("embedding")), k = nLists, iters = 3)
      ._2.sortBy(_._1)

  /** Nearest-centroid assignment expression: argmax over centroid dot
    * products (vectors are ~unit-scale; production would normalize both
    * sides). */
  private def assignExpr(centroids: Seq[(Int, Seq[Double])],
      v: Column): Column = {
    val scored = centroids.map { case (cid, c) =>
      struct(call_function("dot_product", v, typedLit(c)).as("sim"),
        lit(cid).as("cid"))
    }
    array_max(array(scored: _*)).getField("cid")
  }

  /** Rank the model's centroids against a collected query vector, keep the
    * nProbe nearest list ids. */
  private def probeListsFor(centroids: Seq[(Int, Seq[Double])],
      qVec: Seq[Float], nProbe: Int): Seq[Int] =
    centroids.map { case (cid, c) =>
      (cid, c.zip(qVec).map { case (x, y) => x * y.toDouble }.sum)
    }.sortBy(-_._2).take(nProbe).map(_._1)

  /** Shared IVF pipeline: centroid fit, nearest-centroid assignment fused
    * into the scan, nProbe-list probing, exact re-rank. The stored-index
    * twin is [[ivfKnnFromIndex]]. */
  def ivfKnn(s: SparkSession, emb: DataFrame, queryId: Long, k: Int,
      nProbe: Int = 3, nLists: Int = 8): DataFrame = {
    VectorOps.registerFns(s)
    import s.implicits._
    val centroids = ivfFit(s, emb, nLists)
    val assigned = emb.withColumn("list_id",
      assignExpr(centroids, col("embedding")))
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val qVec = q.as[Seq[Float]].head()
    val probeLists = probeListsFor(centroids, qVec, nProbe)
    assigned
      .filter(col("list_id").isin(probeLists: _*))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("list_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** K4-scale — approximate kNN of one query via IVF probing.
    *
    * Oracled since round 8 (the kmeans_embed replay precedent): the
    * DuckDB oracle replays the ENTIRE pipeline — the 3-iteration Lloyd
    * model (ClusterOps.kmeansIterSql CTEs, centroids rounded to 1e-6
    * between iterations on both engines), the raw-dot nearest-centroid
    * assignment with array_max's highest-cid tie-break (`ORDER BY sc
    * DESC, cid DESC`), the stable centroid ranking for nProbe probing
    * (`ORDER BY sc DESC, cid ASC` — Scala's stable sortBy keeps
    * ascending cid on ties), and the exact rounded-6 cosine re-rank.
    * A hash match here proves the APPROXIMATE path end-to-end, not just
    * its recall floor. */
  val annIvfKnn = Q(
    "ann_ivf_knn",
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
       |    AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS cid, v AS cent
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8) t),${
      Seq(1, 2, 3).map(ClusterOps.kmeansIterSql).mkString(",")},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (
       |  SELECT cid FROM (
       |    SELECT c.cid,
       |      list_sum(list_transform(range(1, len(q.qv) + 1),
       |        i -> c.cent[i] * q.qv[i])) AS sc
       |    FROM c3 c CROSS JOIN q) t
       |  ORDER BY sc DESC, cid LIMIT 3),
       |assign AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_sum(list_transform(range(1, len(e.v) + 1),
       |          i -> e.v[i] * c.cent[i])) DESC, c.cid DESC) AS rk
       |    FROM e CROSS JOIN c3 c) t WHERE rk = 1),
       |res AS (
       |  SELECT e.vec_id, a.list_id,
       |    list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] * q.qv[i])) AS dot,
       |    list_sum(list_transform(e.v, x -> x * x)) AS ne,
       |    list_sum(list_transform(q.qv, x -> x * x)) AS nq
       |  FROM e JOIN assign a USING (vec_id) CROSS JOIN q
       |  WHERE a.list_id IN (SELECT cid FROM probe) AND e.vec_id <> 0)
       |SELECT vec_id, CAST(list_id AS INT) AS list_id,
       |  ROUND(CASE WHEN ne = 0 OR nq = 0 THEN 0.0
       |             ELSE dot / (SQRT(ne) * SQRT(nq)) END, 6) AS sim
       |FROM res ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin) {
    (s, dir) =>
      ivfKnn(s, t(s, dir, "embeddings"), queryId = 0L, k = 20)
  }

  /** Shared product-quantization (PQ) kNN pipeline: per-subspace codebooks
    * (deterministic md5-sampled seeds + one Lloyd refinement, built with
    * the same centroid Aggregator as IVF), asymmetric-distance (ADC) scan
    * against a broadcast lookup table, exact cosine re-rank of the top
    * candidates.
    *
    * 100 TB shape: the index build is a handful of small aggregates (the
    * codebooks are m·ksub·dsub doubles — kilobytes, driver-held like the
    * IVF centroids); the query is ONE map-side scan computing
    * Σ_m lut[m][code_m(x)] in codegen (no shuffle), a TakeOrdered of
    * `nCandidates`, then an exact re-rank of candidates only. In a
    * production layout the codes (m bytes/vector, 8 vs 256 bytes here)
    * are precomputed once at ingest — 32× less scan I/O than raw floats;
    * here encode+scan fuse into one pass for the declared query. */
  private def subCol(mm: Int, dsub: Int): Column =
    slice(col("embedding"), mm * dsub + 1, dsub)

  /** PQ sub-code expression — argmin ||x-c||² == argmax (x·c − ||c||²/2);
    * ties break to the higher code via the struct max — deterministic
    * either way. */
  private def codeCol(mm: Int, dsub: Int, ksub: Int,
      cb: Array[Array[Seq[Double]]]): Column = {
    val scored = (0 until ksub).map { j =>
      val c = cb(mm)(j)
      val half = c.map(x => x * x).sum / 2.0
      struct((call_function("dot_product", subCol(mm, dsub), typedLit(c)) - half)
        .as("s"), lit(j).as("code"))
    }
    array_max(array(scored: _*)).getField("code")
  }

  /** PQ codebook fit: deterministic md5-sampled seeds + one Lloyd
    * refinement per subspace (the same centroid Aggregator as IVF). Empty
    * clusters keep their seed centroid. */
  def pqFit(s: SparkSession, emb: DataFrame, m: Int, dsub: Int,
      ksub: Int): Array[Array[Seq[Double]]] = {
    VectorOps.registerFns(s)
    import s.implicits._
    val seedIds = emb.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(ksub).as[Long].collect().sorted.toSeq
    val seeds = emb.filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1).map(_._2)
    val init: Array[Array[Seq[Double]]] =
      Array.tabulate(m)(mm => Array.tabulate(ksub)(j =>
        seeds(j).slice(mm * dsub, (mm + 1) * dsub).map(_.toDouble).toSeq))
    val centroid = udaf(Udx.centroidAgg)
    // FUSED refinement (round-12, VERDICT r11 item 7): the old form ran
    // ONE corpus/sample scan PER SUBSPACE (m scans — 96 at 768-d, the
    // dominant term of the 141–205 s fit at the 2 M tier). One pass now
    // computes all m codes per row through the native pq_codes kernel
    // (bit-identical to the column form — AnnSpec's kernel equivalence),
    // posexplodes to (mm, code, sub-vector) and aggregates every
    // (subspace, code) mean in ONE shuffle. Means are identical to the
    // per-subspace loop: centroidAgg's finish already rounds each
    // component to the 1e-6 grid (the drift-proofing that makes the
    // ann_pq_knn replay oracle possible — its hash-match is the direct
    // proof the fusion preserves the codebooks). Seeds stay raw.
    val cbFlat = (0 until m).flatMap(mm => (0 until ksub)
      .flatMap(j => init(mm)(j).padTo(dsub, 0.0)))
    val means = emb
      .select(col("embedding"),
        posexplode(call_function("pq_codes", col("embedding"),
          typedLit(cbFlat), lit(m), lit(dsub), lit(ksub)))
          .as(Seq("mm", "code")))
      .select(col("mm"), col("code"),
        slice(col("embedding"), col("mm") * lit(dsub) + lit(1), lit(dsub))
          .as("sub"))
      .groupBy("mm", "code").agg(centroid(col("sub")).as("c"))
      .as[(Int, Int, Seq[Double])].collect()
      .map { case (mm, j, c) => (mm, j) -> c }.toMap
    Array.tabulate(m)(mm => Array.tabulate(ksub)(j =>
      means.getOrElse((mm, j), init(mm)(j))))
  }

  /** Exact re-rank join of a pool-bounded candidate frame against the
    * vector table (round-15, found by the 20 M × 384-d rung): the
    * candidate side is ≤ `pool` rows BY CONSTRUCTION, but the optimizer
    * only sees the GlobalLimit's byte estimate, which crosses the 10 MB
    * auto-broadcast default around pool ≈ 4×10⁵ — past it the planner
    * fell back to SMJ and SHUFFLED THE WHOLE VECTOR TABLE per query
    * (29 GB of shuffle at the 20 M tier; a corpus re-shuffle per query
    * at 100 TB). The bound is driver-known, so broadcast explicitly
    * whenever it fits a real budget; above that the SMJ fallback is the
    * honest distributed shape (fetching that many vectors IS a
    * corpus-scale join). */
  private def rerankJoin(cands: DataFrame, emb: DataFrame,
      pool: Long): DataFrame = {
    val arm =
      if (pool * 24L <= RerankBroadcastBudget) broadcast(cands) else cands
    arm.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
  }

  /** The one ANN broadcast budget (round-16 review): the single-query
    * gate, the batch gate, the candidate gates of the index and snapshot
    * serves, the filtered serve's query gate and the chunk sizer agree —
    * two drifted copies would size chunks against a bound the gate no
    * longer honors and silently reintroduce the per-chunk SMJ corpus
    * re-shuffle. */
  val RerankBroadcastBudget: Long = 256L << 20

  /** Worst-case per-query rerank pool (shared by the batch gate and the
    * chunk sizer — round-16 review deduplication): adaptive pools widen
    * at most to half the nProbe LARGEST lists' volume. */
  private def worstCasePool(pool: Int, nProbe: Int,
      sizes: Option[Map[Int, Long]]): Long = sizes match {
    case Some(sz) =>
      val top = sz.values.toSeq.sorted(Ordering[Long].reverse)
        .take(nProbe).sum
      math.max(pool.toLong, top / 2 + top % 2)
    case None => pool.toLong
  }

  /** Query-side ADC lookup table: lut(mm)(j) = q_mm · codebook(mm)(j). */
  private def adcLut(codebooks: Array[Array[Seq[Double]]], m: Int, dsub: Int,
      ksub: Int, qVec: Seq[Float]): Array[Seq[Double]] =
    Array.tabulate(m) { mm =>
      (0 until ksub).map { j =>
        codebooks(mm)(j).zipWithIndex
          .map { case (c, i) => c * qVec(mm * dsub + i) }.sum
      }
    }

  /** Dimension- AND corpus-adaptive ADC candidate-pool default (round-10
    * VERDICT r9 item 4; corpus term round-11): PQ distortion grows with
    * width — measured at 768-d (SCALE.md §PQ candidate-pool knob):
    * recall@20 = 0.47 / 0.78 / 1.000 / 1.000 at nCandidates =
    * 100 / 200 / 400 / 800 on a 20 k corpus, i.e. the curve saturates
    * around 2 % of the corpus — and the ADC noise floor scales with the
    * number of competitors, so a width-only pool silently starves recall
    * as the corpus grows: the 2 M × 768-d annscale probe measured
    * recall@20 = 0.12 / 0.05 at 0.25–2 M rows with the fixed 400-pool
    * (SCALE.md §ann-sf100). The default is now max(width term, n/50) —
    * the measured 2 % saturation point — with n from zero-job plan/footer
    * stats. The 64-d verify corpora stay at the 100 floor (500/5 000 rows
    * → n/50 = 10/100), keeping the declared `ann_pq_knn` replay oracle
    * byte-identical. Explicit caller values always win. */
  def pqPoolFor(dims: Int, nRows: BigInt = 0): Int = {
    val widthTerm = math.max(100, (math.ceil(dims / 200.0) * 100).toInt)
    val corpusTerm = (nRows / 50).min(BigInt(1000000)).toInt
    math.max(widthTerm, corpusTerm)
  }

  /** Adaptive pool (round 14): the whole-index default, WIDENED — never
    * shrunk, the round-12 probed-fraction lesson — to half the probed
    * lists' row volume. A hot region concentrated in the probed lists
    * makes the ADC rank-window among near-ties effectively random, and
    * the corpus-average pool then drops the true neighbors for ANY model
    * (fresh rebuild included — measured 0.21–0.30 recall at a
    * 12.5 %-of-corpus point-cluster, SCALE.md round-14). Half the probed
    * volume guarantees the window covers any region up to 2× the pool
    * inside the probe set, while the exact re-rank keeps a wider pool
    * quality-neutral and its join cost proportional (measured
    * immaterial vs the ADC scan at the 2 M tier). `(v+1)/2` matches the
    * batch plan's `(sum+1) div 2` bit-for-bit — the single ≡ batched
    * equivalence the selfchecks pin. */
  private[graft] def adaptivePool(defaultPool: Int,
      probedRows: Long): Int =
    // p/2 + p%2 == ceil(p/2) for p ≥ 0 WITHOUT the (p+1) overflow at
    // Long.MaxValue; identical to the batch plan's `(sum+1) div 2` on
    // every realistic volume (list-row sums are corpus-bounded).
    math.max(defaultPool.toLong, math.min(Int.MaxValue.toLong,
      probedRows / 2 + probedRows % 2)).toInt

  /** Per-list row counts of an IVF index — ONE driver-bounded nLists-row
    * aggregate per serve, shared by the single and batched adaptive
    * pools (both paths must see identical sizes for their equivalence
    * contract). At warehouse scale these counts live in stored index
    * stats (the TxLog min/max precedent); computing them here is one
    * narrow column scan, amortized across a whole batch. */
  private[operators] def listSizes(index: DataFrame): Map[Int, Long] =
    index.groupBy("list_id").count().collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap

  def pqKnn(s: SparkSession, emb: DataFrame, queryId: Long, k: Int,
      m: Int = 8, dsub: Int = 8, ksub: Int = 16,
      nCandidates: Int = -1): DataFrame = {
    VectorOps.registerFns(s)
    import s.implicits._
    // --- index build (driver-side constants, as with the IVF centroids) ---
    val codebooks = pqFit(s, emb, m, dsub, ksub)
    // --- query: ADC lookup table + fused encode-and-score scan ---
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val qVec = q.as[Seq[Float]].head()
    // Row width = id + the float payload: the estimator's byte fallback
    // divides sizeInBytes by this, so a too-small width on a ~3 KB-wide
    // 768-d row would overcount ~200x and peg the pool at its cap (code
    // review round-11); footer/rowCount paths are exact and unaffected.
    val pool = if (nCandidates > 0) nCandidates
      else pqPoolFor(qVec.size, graft.plans.PlanStats.estRows(
        emb, 16L + qVec.size * 4L, decompressionFactor = 1))
    val lut = adcLut(codebooks, m, dsub, ksub, qVec)
    val adc = (0 until m).map { mm =>
      element_at(typedLit(lut(mm)), codeCol(mm, dsub, ksub, codebooks) + 1)
    }.reduce(_ + _)
    emb.filter(col("vec_id") =!= queryId)
      // ADC rounds to 1e-6 before the candidate cut (round-8): the 8-term
      // LUT sum reassociates differently across engines (~1e-16); on the
      // grid, the (adc, vec_id) candidate ranking is drift-proof.
      .select(col("vec_id"), col("embedding"), round(adc, 6).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(pool)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** K4-scale — approximate kNN via PQ codes + ADC (the byte-budget
    * complement to IVF's partition pruning).
    *
    * Oracled since round 8 (the ann_ivf_knn replay family): the DuckDB
    * oracle replays the whole pipeline — md5-ordered seed sampling, the
    * one Lloyd refinement per subspace with 1e-6-rounded means (the
    * drift-proofing that makes the replay possible), the argmax encode
    * with array_max's higher-code tie-break, the ADC LUT sum rounded to
    * the same grid before the (adc, vec_id) candidate cut, and the exact
    * rounded-6 cosine re-rank of the top-100. A hash match proves the
    * compressed approximate path end-to-end. */
  val annPqKnn = Q(
    "ann_pq_knn",
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
       |    AS v
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |sv AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY e.vec_id) - 1 AS INT)
       |    AS j, e.v
       |  FROM e JOIN seeds USING (vec_id)),
       |mms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS mm),
       |cb0 AS MATERIALIZED (
       |  SELECT mm, j, v[mm * 8 + 1 : mm * 8 + 8] AS c
       |  FROM sv CROSS JOIN mms),
       |subs AS MATERIALIZED (
       |  SELECT vec_id, mm, v[mm * 8 + 1 : mm * 8 + 8] AS sub
       |  FROM e CROSS JOIN mms),
       |code0 AS MATERIALIZED (
       |  SELECT vec_id, mm, j AS code FROM (
       |    SELECT s.vec_id, s.mm, c.j,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.mm ORDER BY
       |        (list_sum(list_transform(range(1, 9),
       |           i -> s.sub[i] * c.c[i]))
       |         - list_sum(list_transform(c.c, x -> x * x)) / 2.0)
       |        DESC, c.j DESC) AS rk
       |    FROM subs s JOIN cb0 c USING (mm)) t WHERE rk = 1),
       |cb1 AS MATERIALIZED (
       |  SELECT c0.mm, c0.j, COALESCE(u.cent, c0.c) AS c FROM cb0 c0
       |  LEFT JOIN (
       |    SELECT mm, code AS j, list(m ORDER BY i) AS cent FROM (
       |      SELECT mm, code, i, ROUND(AVG(x), 6) AS m FROM (
       |        SELECT s.mm, cd.code, unnest(range(1, 9)) AS i,
       |               unnest(s.sub) AS x
       |        FROM subs s JOIN code0 cd USING (vec_id, mm)) t
       |      GROUP BY mm, code, i) t2 GROUP BY mm, j) u
       |    ON u.mm = c0.mm AND u.j = c0.j),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |lut AS MATERIALIZED (
       |  SELECT mm, j,
       |    list_sum(list_transform(range(1, 9),
       |      i -> c[i] * qv[mm * 8 + i])) AS l
       |  FROM cb1 CROSS JOIN q),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, mm, j AS code FROM (
       |    SELECT s.vec_id, s.mm, c.j,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.mm ORDER BY
       |        (list_sum(list_transform(range(1, 9),
       |           i -> s.sub[i] * c.c[i]))
       |         - list_sum(list_transform(c.c, x -> x * x)) / 2.0)
       |        DESC, c.j DESC) AS rk
       |    FROM subs s JOIN cb1 c USING (mm)) t WHERE rk = 1),
       |adc AS (
       |  SELECT cd.vec_id, ROUND(SUM(l.l), 6) AS adc
       |  FROM codes cd JOIN lut l ON l.mm = cd.mm AND l.j = cd.code
       |  GROUP BY cd.vec_id),
       |cands AS (
       |  SELECT vec_id FROM adc WHERE vec_id <> 0
       |  ORDER BY adc DESC, vec_id LIMIT 100),
       |res AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> e.v[i] * q.qv[i])) AS dot,
       |    list_sum(list_transform(e.v, x -> x * x)) AS ne,
       |    list_sum(list_transform(q.qv, x -> x * x)) AS nq
       |  FROM e JOIN cands USING (vec_id) CROSS JOIN q)
       |SELECT vec_id,
       |  ROUND(CASE WHEN ne = 0 OR nq = 0 THEN 0.0
       |             ELSE dot / (SQRT(ne) * SQRT(nq)) END, 6) AS sim
       |FROM res ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin) {
    (s, dir) =>
      pqKnn(s, t(s, dir, "embeddings"), queryId = 0L, k = 20)
  }

  // ------------------------------------------------------------------
  // Stored-index path (round 5): at 100 TB the build-per-query shape is
  // the anti-pattern — a real user fits the model once at ingest, stores
  // the per-vector index rows NEXT TO the vectors (list_id becomes the
  // partition key, codes a byte column), and every query consumes the
  // stored index: IVF probing = partition pruning, the ADC scan reads
  // m bytes/vector instead of dim×4. The model itself (centroids +
  // codebooks) is kilobytes — a metadata table / driver constant.
  // ------------------------------------------------------------------

  /** Fitted ANN index model: IVF coarse-quantizer centroids + per-subspace
    * PQ codebooks. Kilobyte-scale driver-held constants. */
  final case class AnnModel(
      nLists: Int,
      centroids: Seq[(Int, Seq[Double])],
      m: Int, dsub: Int, ksub: Int,
      codebooks: Array[Array[Seq[Double]]])

  /** Fit both quantizers once (the ingest-time model build). Above
    * `fitSampleCap` rows the quantizers train on the [[fitSample]]
    * subset: kmeans iterations and the m per-subspace codebook
    * refinements then scan the bounded sample instead of re-reading the
    * corpus m+iters times — quantizer quality needs a representative
    * sample, not the population (the FAISS train/add split), and at
    * 100 TB re-scanning the corpus 96× for codebooks is the difference
    * between a model fit and a cluster outage. Below the cap (every
    * verify tier) nothing changes — the replay oracles stay
    * byte-identical. */
  def fitAnnModel(s: SparkSession, emb: DataFrame, nLists: Int = 8,
      m: Int = 8, dsub: Int = 8, ksub: Int = 16,
      fitSampleCap: Long = 200000L): AnnModel = {
    val fitSet = fitSample(emb, fitSampleCap)
    AnnModel(nLists, ivfFit(s, fitSet, nLists), m, dsub, ksub,
      pqFit(s, fitSet, m, dsub, ksub))
  }

  /** The model-training subset of `emb`: the frame itself up to `cap`
    * rows, else a deterministic hash sample of about `cap` rows,
    * MATERIALIZED once (Stage) so every training pass re-reads the
    * sample, not the corpus. Shared by [[fitAnnModel]] and the
    * [[AnnIndexLog.rebalance]] refinement.
    *
    * The zero-job footer estimate is filter-blind (whole-table counts),
    * so it only serves as the CHEAP ADMISSION test; when it says "over
    * the cap" the sampling fraction is derived from one EXACT count — a
    * filtered frame (estimate 2 M, actual 250 k) would otherwise train on
    * est/cap-fold fewer rows than the cap intends, degenerating the
    * quantizers with no error (code review round-11). One linear count at
    * model-fit time is ingest-class cost, dwarfed by the fit itself. */
  private[operators] def fitSample(emb: DataFrame, cap: Long): DataFrame = {
    import graft.Stage.StagedOps
    if (graft.plans.PlanStats.estRows(emb, 16L) <= BigInt(cap)) emb
    else {
      val actual = emb.count()
      if (actual <= cap) emb
      else {
        val f = (actual + cap - 1) / cap
        emb.filter(pmod(xxhash64(col("vec_id")), lit(f)) === 0).staged
      }
    }
  }

  /** Materialized per-vector index rows: (vec_id, list_id, codes) — ONE
    * scan of the corpus computing both quantizations; written as a table
    * this is the ingest-time precompute [[pqKnn]]'s scaladoc describes.
    *
    * Round-11: both quantizations run through the native kernels
    * ([[graft.functions.PqCodes]] / [[graft.functions.NearestCentroid]]).
    * The column forms (codeCol × m, assignExpr over k centroids) generate
    * m·ksub (+k) dot loops in ONE projection — at 768-d / m=96 Janino
    * dies on method size and the build fails outright (annscale probe).
    * The kernels are bit-identical to the column forms (same sequential
    * double accumulation, same ties-to-higher argmax, same null
    * contract — AnnSpec's from-index ≡ direct equivalence pins it) and
    * ship the model with the plan as literal arrays. */
  def annIndex(s: SparkSession, emb: DataFrame, model: AnnModel): DataFrame =
    annIndex(s, emb, model, payload = "none")

  /** IVF index rows, optionally CARRYING the exact-rerank payload inside
    * the inverted lists (round-17, VERDICT r16 missing #1). With
    * `payload = "none"` the serve's exact rerank must join the original
    * corpus table — a FULL corpus scan per serve, which the chunked batch
    * wrapper pays once PER CHUNK (the dominant term of the 2 M control's
    * 2.1× overhead once the candidate scan was list-pruned). Storing the
    * vector in its list — `"float"` = the embedding verbatim (rerank
    * bit-identical to the corpus join; ~duplicates corpus storage), or
    * `"int8"` = the [[quantizeInt8]] affine form (~4× smaller; rerank ≡
    * the `rerankInt8` serve mode) — makes the list-partitioned index
    * self-contained, so a list-pruned index scan prunes the RERANK too
    * and the chunk rescan multiplier collapses to the probed-list volume.
    * This is the classical inverted-file layout (vectors live in their
    * lists); payload columns are `p_vec` or `(p_min, p_scale, p_codes)`
    * and [[ivfPqKnnBatch]] picks them up by schema. */
  def annIndex(s: SparkSession, emb: DataFrame, model: AnnModel,
      payload: String): DataFrame = {
    VectorOps.registerFns(s)
    // Codebook entries pad to dsub with zeros: dot terms ×0 vanish, so the
    // padded kernel score equals the column form's min-length dot exactly.
    val cbFlat = (0 until model.m).flatMap(mm => (0 until model.ksub)
      .flatMap(j => model.codebooks(mm)(j).padTo(model.dsub, 0.0)))
    val core = Seq(col("vec_id"), listAssign(model).as("list_id"),
      call_function("pq_codes", col("embedding"), typedLit(cbFlat),
        lit(model.m), lit(model.dsub), lit(model.ksub)).as("codes"))
    payload match {
      case "none" => emb.select(core: _*)
      case "float" => emb.select(core :+ col("embedding").as("p_vec"): _*)
      case "int8" =>
        // The quantizeInt8 law verbatim (its three-phase shape, so
        // array_min/array_max evaluate once per vector).
        emb.select(col("vec_id"), col("embedding"),
            array_min(col("embedding")).cast("double").as("p_min"),
            array_max(col("embedding")).cast("double").as("p_max"))
          .select(col("vec_id"), col("embedding"), col("p_min"),
            ((col("p_max") - col("p_min")) / 255.0).as("p_scale"))
          .select(core ++ Seq(col("p_min"), col("p_scale"),
            transform(col("embedding"), x =>
              when(col("p_scale") === 0.0, lit(0))
                .otherwise(round((x.cast("double") - col("p_min")) /
                  col("p_scale"), 0))
                .cast("smallint")).as("p_codes")): _*)
      case other => sys.error(s"annIndex: unknown payload '$other' " +
        "(expected none|float|int8)")
    }
  }

  /** IVF kNN over a STORED index: probes prune on the stored list_id, the
    * exact re-rank joins the vector table only for surviving candidates.
    * Result ≡ [[ivfKnn]] with the same model (AnnSpec pins it). */
  def ivfKnnFromIndex(s: SparkSession, emb: DataFrame, index: DataFrame,
      model: AnnModel, queryId: Long, k: Int, nProbe: Int = 3): DataFrame = {
    VectorOps.registerFns(s)
    import s.implicits._
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val qVec = q.as[Seq[Float]].head()
    val probeLists = probeListsFor(model.centroids, qVec, nProbe)
    val cands = index.filter(col("list_id").isin(probeLists: _*))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("list_id"))
    // Candidate-side broadcast gate (round-15, found by the 20 M rung):
    // the optimizer's stats for the list-pruned index are filter-blind,
    // so past ~10 MB of candidate ids it picked SMJ and SHUFFLED THE
    // WHOLE VECTOR TABLE for the re-rank — 29 GB of shuffle at
    // 20 M × 384-d (ENOSPC on this harness; a cluster-wide re-shuffle of
    // the corpus per query at 100 TB). The probed fraction is known
    // (nProbe/nLists of the index's footer rows), so broadcast the
    // (vec_id, list_id) candidate frame whenever that estimate fits a
    // real broadcast budget; above it the SMJ fallback stands (at that
    // size fetching the candidates' vectors IS a corpus-scale join, and
    // the bounded-pool IVF+PQ arms are the serve path).
    val estCands = graft.plans.PlanStats.estRows(index, 20L,
      decompressionFactor = 1) * nProbe / math.max(1, model.nLists)
    val candArm =
      if (estCands * 24 <= BigInt(RerankBroadcastBudget)) broadcast(cands)
      else cands
    candArm
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("list_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** PQ kNN over a STORED index: the ADC scan touches only the m-byte code
    * column (no embeddings until the nCandidates re-rank join). Result ≡
    * [[pqKnn]] with the same model (AnnSpec pins it). */
  def pqKnnFromIndex(s: SparkSession, emb: DataFrame, index: DataFrame,
      model: AnnModel, queryId: Long, k: Int,
      nCandidates: Int = -1): DataFrame = {
    VectorOps.registerFns(s)
    import s.implicits._
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val qVec = q.as[Seq[Float]].head()
    // Index row width = id + list + m int codes (see pqKnn's width note).
    val pool = if (nCandidates > 0) nCandidates
      else pqPoolFor(qVec.size, graft.plans.PlanStats.estRows(
        index, 20L + model.m * 4L, decompressionFactor = 1))
    val lut = adcLut(model.codebooks, model.m, model.dsub, model.ksub, qVec)
    val adc = (0 until model.m).map { mm =>
      element_at(typedLit(lut(mm)), element_at(col("codes"), mm + 1) + 1)
    }.reduce(_ + _)
    rerankJoin(
      index.filter(col("vec_id") =!= queryId)
        .select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(pool),
      emb, pool)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** COMPOSED IVF+PQ serve (round-12, VERDICT r11 item 2 — the standard
    * FAISS IVFPQ composition): the ADC scan runs ONLY inside the query's
    * `nProbe` probed lists instead of walking every code row. The flat
    * ADC scan was the one remaining corpus-linear serve path (12.9 s/q at
    * 2 M × 768-d, SCALE.md §ann-sf100); restricting to probed lists cuts
    * per-query work ~nLists/nProbe-fold, and on a list_id-partitioned
    * stored index the filter is PARTITION PRUNING — unprobed lists are
    * never read. With nProbe = nLists this is row-identical to
    * [[pqKnnFromIndex]] (AnnSpec pins the equivalence; the candidate pool
    * is sized to the probed fraction so the full-probe pool matches the
    * flat path's exactly). */
  def ivfPqKnnFromIndex(s: SparkSession, emb: DataFrame, index: DataFrame,
      model: AnnModel, queryId: Long, k: Int, nProbe: Int = 3,
      nCandidates: Int = -1): DataFrame = {
    VectorOps.registerFns(s)
    import s.implicits._
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val qVec = q.as[Seq[Float]].head()
    val probeLists = probeListsFor(model.centroids, qVec, nProbe)
    // Pool sized to the WHOLE index, not the probed fraction — measured
    // (768-d annscale, round-12): a probed-fraction pool (same 2 % ratio
    // as flat) collapsed recall@20 to 0.35–0.40, because every candidate
    // inside the probed lists is already NEAR the query, so the ADC noise
    // floor among them is far denser than across a mostly-far corpus.
    // The whole-index pool keeps the re-rank cost identical to the flat
    // path (whose recall the pool formula was tuned on), makes the
    // full-probe case equal the flat pool exactly (the equivalence
    // contract), and the pruning win stays in the ADC scan + TakeOrdered.
    // Round-14 WIDENING (never shrinking — the r12 lesson above): when
    // the probed lists hold an outsized row volume (a hot novel region
    // after churn), the whole-index pool keeps an ADC-noise-random
    // subset of a tie-dense region and recall collapses for ANY model
    // (measured 0.21–0.30 at a 12.5 %-of-corpus point-cluster); the pool
    // therefore widens to half the probed volume. Exact re-rank bounds
    // the quality cost of a bigger pool at zero; the rerank-join cost is
    // proportional and was measured immaterial vs the ADC scan.
    // (Adaptive widening applies to PARTIAL probes only: at full probe
    // the probed volume is the corpus and widening would break the
    // full-probe ≡ flat-pool equivalence AnnSpec pins as the composed
    // serve's validation anchor.)
    val pool = if (nCandidates > 0) nCandidates
      else {
        val defaultPool = pqPoolFor(qVec.size, graft.plans.PlanStats
          .estRows(index, 20L + model.m * 4L, decompressionFactor = 1))
        if (probeLists.size >= model.centroids.size) defaultPool
        else {
          val sizes = listSizes(index)
          adaptivePool(defaultPool,
            probeLists.map(l => sizes.getOrElse(l, 0L)).sum)
        }
      }
    val lut = adcLut(model.codebooks, model.m, model.dsub, model.ksub, qVec)
    val adc = (0 until model.m).map { mm =>
      element_at(typedLit(lut(mm)), element_at(col("codes"), mm + 1) + 1)
    }.reduce(_ + _)
    rerankJoin(
      index.filter(col("list_id").isin(probeLists: _*))
        .filter(col("vec_id") =!= queryId)
        .select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(pool),
      emb, pool)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** K4-scale — the declared composed IVF+PQ kNN: one model fit, one
    * stored-index build, ADC only within the 3 probed lists, exact re-rank
    * of the pool. No-oracle (learned quantizer, the K2/ann_index_build
    * precedent); AnnSpec pins composed ≡ flat on the full probe set plus a
    * recall floor at nProbe = 3, and the Verify selfcheck reports measured
    * recall@20 vs the exact kernel every run. */
  val annIvfPqKnn = Q.noOracle("ann_ivfpq_knn") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = fitAnnModel(s, emb)
    val index = annIndex(s, emb, model)
    ivfPqKnnFromIndex(s, emb, index, model, queryId = 0L, k = 20, nProbe = 3)
  }

  /** K-index — the declared ingest-time index build: per-vector IVF list
    * assignment + comma-rendered PQ codes (flat schema for the driver's
    * comparator; the array form feeds [[pqKnnFromIndex]] internally).
    * No-oracle: quantizer internals aren't SQL-portable (K2 precedent). */
  val annIndexBuild = Q.noOracle("ann_index_build") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = fitAnnModel(s, emb)
    annIndex(s, emb, model)
      .select(col("vec_id"), col("list_id"),
        concat_ws(",", col("codes").cast("array<string>")).as("pq_codes"))
      .orderBy("vec_id")
  }

  /** BATCHED multi-query composed IVF+PQ serve (round-13, VERDICT r12
    * next-item 5): one JOB serves a whole query FRAME instead of two
    * driver actions per query. Per query row the plan computes, all as
    * expressions — no driver participation per query:
    *
    *  1. probe lists: the nProbe nearest centroids via an array_sort over
    *     (−dot, cid) structs (bit-identical ranking to the driver-side
    *     [[probeListsFor]]: same i-ascending double dots, ties to the
    *     lower cid — Scala's stable sortBy over cid-ascending input);
    *  2. the m×ksub ADC lookup table via the native `pq_adc_lut` kernel
    *     (the driver [[adcLut]] computed per-row; identical accumulation
    *     order → bit-identical tables);
    *  3. ADC per (query, candidate) via `pq_adc` — one kernel call, not
    *     an m-term element_at chain (the 768-d codegen width wall).
    *
    * Shape: queries (with probe lists exploded) broadcast against the
    * stored index on `list_id` — on a list_id-partitioned index with few
    * distinct query probe lists this prunes like the single-query path;
    * per-query pool and top-k cuts are rank windows partitioned by
    * query_id. AnnSpec pins batched ≡ the single-query
    * [[ivfPqKnnFromIndex]] row-for-row per query at the same pool.
    * Queries are corpus members (vec_id space) — self-matches excluded,
    * like the single-query serve. */
  /** The exact-rerank vector source for a serve, canonicalized: an
    * explicit int8 frame wins, else a payload-carrying index serves its
    * own vectors (columns normalized to the int8-frame names so the
    * serve's dequant arm is one code path), else the corpus table.
    * Shared by [[ivfPqKnnBatch]] and the chunked wrapper so a persisted
    * copy is plan-identical to the per-chunk default. */
  private[operators] def rerankSource(emb: DataFrame, index: DataFrame,
      rerankInt8: Option[DataFrame]): DataFrame = rerankInt8 match {
    case Some(q8) => q8.select(col("vec_id"), col("q_min"),
      col("q_scale"), col("codes").as("q_codes"))
    case None =>
      val c = index.columns.toSet
      if (c.contains("p_codes"))
        index.select(col("vec_id"), col("p_min").as("q_min"),
          col("p_scale").as("q_scale"), col("p_codes").as("q_codes"))
      else if (c.contains("p_vec"))
        index.select(col("vec_id"), col("p_vec").as("embedding"))
      else emb.select(col("vec_id"), col("embedding"))
  }

  def ivfPqKnnBatch(s: SparkSession, emb: DataFrame, index: DataFrame,
      model: AnnModel, queries: DataFrame, k: Int, nProbe: Int = 3,
      nCandidates: Int = -1, knownQueryRows: Long = -1L,
      sizesHint: Option[Map[Int, Long]] = None,
      rerankInt8: Option[DataFrame] = None,
      rerankBudgetBytes: Long = RerankBroadcastBudget,
      poolHint: Int = -1, knownPoolRows: Long = -1L,
      rerankShuffle: Boolean = false): DataFrame = {
    VectorOps.registerFns(s)
    import org.apache.spark.sql.expressions.Window
    val dims = model.centroids.head._2.length
    // `poolHint` (round-17): the chunked wrapper prunes the index scan to
    // each chunk's probed lists, so the DEFAULT pool must come from the
    // caller's FULL-index estimate — recomputing it here from a pruned
    // frame would shrink the pool and perturb results vs the unchunked
    // serve. Unlike nCandidates it keeps the adaptive per-query path.
    val pool = if (nCandidates > 0) nCandidates
      else if (poolHint > 0) poolHint
      else pqPoolFor(dims, graft.plans.PlanStats.estRows(
        index, 20L + model.m * 4L, decompressionFactor = 1))
    val cbFlat = (0 until model.m).flatMap(mm => (0 until model.ksub)
      .flatMap(j => model.codebooks(mm)(j).padTo(model.dsub, 0.0)))
    val scored = array(model.centroids.map { case (cid, c) =>
      struct((-call_function("dot_product", col("qe"), typedLit(c)))
        .as("negdot"), lit(cid).as("cid"))
    }: _*)
    // Broadcast the query side only while it is broadcast-SIZED (code
    // review round-13): each exploded probe row carries an m·ksub-double
    // LUT (~12 KB at 768-d), so an unbounded query frame force-broadcast
    // would walk into the driver/8 GB broadcast wall. Past the byte gate
    // the hint is simply dropped — the same equi-join proceeds as a
    // shuffle join on list_id (the unbounded-query-stream shape the
    // scaladoc describes), no semantic change.
    val lutRowBytes = 12L + model.m.toLong * model.ksub * 8L
    // BigInt end-to-end (ADVICE round-13): a stat-less query frame's
    // sizeInBytes fallback can be huge, and a Long-clamped product would
    // overflow/wrap and force-broadcast exactly the unbounded frame the
    // gate exists to keep off the driver.
    // `knownQueryRows`: the chunked wrapper knows its chunk's EXACT row
    // count (round-16 — a Filter carries its child's sizeInBytes in
    // non-CBO stats, so a chunk sliced out of a big frame would estimate
    // as the WHOLE frame, refuse the broadcast it was sized to earn, and
    // fall back to the very corpus shuffle chunking exists to avoid).
    val qRows = if (knownQueryRows >= 0L) BigInt(knownQueryRows)
      else graft.plans.PlanStats.estRows(queries, 8L + dims * 4L)
    val gate = BigInt(RerankBroadcastBudget)
    val maySidecast = qRows * nProbe * lutRowBytes <= gate &&
      qRows * (8L + dims * 4L) <= gate
    def sided(df: DataFrame): DataFrame =
      if (maySidecast) broadcast(df) else df
    val q = queries.select(col("query_id"), col("qe"),
        call_function("pq_adc_lut", col("qe"), typedLit(cbFlat),
          lit(model.m), lit(model.dsub), lit(model.ksub)).as("lut"),
        explode(transform(slice(array_sort(scored), 1, nProbe),
          p => p.getField("cid"))).as("list_id"))
      .select("query_id", "lut", "list_id")
    val cands = index.join(sided(q), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        call_function("pq_adc", col("codes"), col("lut"),
          lit(model.m), lit(model.ksub)).as("adc"))
    val poolW = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id"))
    // Per-query ADAPTIVE pool for the default path (round 14, see
    // [[adaptivePool]]): each query's pool widens to half ITS probed
    // lists' volume — the list-size lookup is a plan-time literal map
    // (one nLists-row aggregate, shared with the single serve), and
    // `(sum + 1) div 2` matches the driver formula bit-for-bit (the
    // single ≡ batched equivalence the selfchecks pin). Explicit
    // nCandidates keeps the pinned-pool contract of the masked/filtered
    // variants untouched.
    val adaptive = nCandidates <= 0 && nProbe < model.centroids.size
    val sizesOpt = if (adaptive) Some(sizesHint.getOrElse(listSizes(index)))
      else None
    val qPools = sizesOpt.map { sizes =>
      queries.select(col("query_id"),
          explode(transform(slice(array_sort(scored), 1, nProbe),
            p => p.getField("cid"))).as("list_id"))
        .select(col("query_id"),
          coalesce(element_at(typedLit(sizes), col("list_id")), lit(0L))
            .as("lsz"))
        .groupBy("query_id")
        .agg(greatest(lit(pool.toLong),
          expr("(sum(lsz) + 1) div 2")).as("qpool"))
    }
    val ranked = cands.withColumn("rn", row_number().over(poolW))
    val pooled = (qPools match {
      case Some(qp) => ranked.join(sided(qp), Seq("query_id"))
        .filter(col("rn") <= col("qpool"))
      case None => ranked.filter(col("rn") <= pool)
    }).select("query_id", "vec_id")
    // Exact-rerank broadcast gate, BATCH form (round-16, VERDICT r15
    // item 1 — the single-query twin is [[rerankJoin]]): the pooled
    // candidate frame is ≤ Σ per-query pools BY CONSTRUCTION, but it
    // hangs off a rank-window filter the optimizer can't size, so past
    // ~10 MB of estimate the rerank fell back to SMJ and re-shuffled
    // the FULL vector corpus per batch (the 20 M-tier ENOSPC, r15).
    // The bound IS driver-known: nQueries × worst-case per-query pool
    // (adaptive pools widen at most to half the nProbe LARGEST lists'
    // volume). Broadcast under the budget; above it the SMJ fallback is
    // the honest corpus-scale shape — and [[ivfPqKnnBatchChunked]]
    // slices the query frame so each chunk stays UNDER the budget.
    // `knownPoolRows` (round-17): the chunked wrapper packs each chunk by
    // the Σ of its queries' ACTUAL adaptive pools (driver-computed from
    // the same sizes map), a tighter true bound on the pooled frame than
    // qRows × the worst-case pool — without it a chunk of cold queries
    // sized to the budget would FAIL the worst-case gate and fall back
    // to the very corpus-shuffle SMJ chunking exists to avoid.
    val pooledBytes =
      if (knownPoolRows >= 0L) BigInt(knownPoolRows) * 24L
      else qRows * BigInt(worstCasePool(pool, nProbe, sizesOpt)) * 24L
    // SHUFFLED-HASH rerank for pruned sources (round-18, VERDICT r17
    // item 1): building the pooled broadcast is a DRIVER-SIDE,
    // single-threaded HashedRelation build — at the 2 M × 384 control
    // the ten ~11 M-row builds were the dominant chunk overhead (the
    // same-boot ladder: broadcast 126–131 s vs shuffle_hash 80.4 s for
    // the chunked batch; unchunked 57.6–58.8 s either way). When the
    // CALLER guarantees the rerank source is pruned to the chunk's
    // probed lists (`rerankShuffle = true` — the chunked wrapper with a
    // payload-carrying index), a shuffled-hash join is strictly better:
    // the shuffle is chunk-proportional (never the corpus — the r15
    // hazard only existed because the source was the FULL vector
    // table), the build side is pooled ÷ shuffle partitions per task
    // (kilobytes to MBs, vs the whole pooled frame per executor), and
    // the sort the SMJ fallback would add is skipped. Capped-memory
    // shapes benefit doubly: no 256 MB broadcast relation on a small
    // heap.
    val pooledSided =
      if (rerankShuffle) pooled.hint("shuffle_hash")
      else if (pooledBytes <= BigInt(rerankBudgetBytes)) broadcast(pooled)
      else pooled
    val qe = queries.select(col("query_id"), col("qe"))
    // Rerank arm: float corpus, or an int8-quantized one (round-16,
    // VERDICT r15 item 2 — the width axis at the decade tier). With
    // `rerankInt8` = Some(vec_id, q_min, q_scale, codes) the stored
    // corpus is the ~4×-smaller affine-int8 form and the exact rerank
    // DEQUANTIZES ONLY THE JOINED SHORTLIST: the transform sits in the
    // post-join projection, so it evaluates per MATCHED row (≤ Σ pools),
    // never per scanned row — a corpus-wide decode per serve is exactly
    // the cost int8 storage exists to avoid. Dequant formula is the
    // oracled `embedding_quantize_int8` audit's: mn + code·scale.
    // Rerank SOURCE resolution (round-17): an explicit `rerankInt8` frame
    // wins; else a payload-carrying index (annIndex payload="float"/
    // "int8") serves its own rerank — the decisive property at chunk
    // scale: the chunked wrapper prunes `index` to each chunk's probed
    // lists, so an index-carried rerank scans ONLY those list partitions
    // where the corpus join re-scanned the whole vector table per chunk.
    // Float payload is the corpus values verbatim (row-identical results,
    // the selfcheck/AnnSpec pin); int8 payload ≡ the rerankInt8 mode.
    // (A persisted vec_id-co-partitioned shared copy fed through a
    // shuffled-hash join was measured WORSE at the 2 M × 384-d tier —
    // warm same-boot: 193.1 s shared vs 163.5 s pruned-scan vs 93.1 s
    // unchunked — every chunk streamed the whole cached corpus through
    // the SHJ probe plus paid the corpus repartition up front, where the
    // pruned scan reads only the chunk's probed list partitions; and at
    // the 20 M tier the memory gate disabled the copy anyway. Removed.)
    val src = rerankSource(emb, index, rerankInt8)
    val joined = pooledSided.join(src, Seq("vec_id"))
    val withVec = if (src.columns.contains("q_codes"))
      joined.withColumn("embedding",
        transform(col("q_codes"), c =>
          (col("q_min") + c.cast("double") * col("q_scale"))
            .cast("float")))
    else joined
    val reranked = withVec.join(sided(qe), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
    val topW = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    reranked.withColumn("rank", row_number().over(topW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("sim"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** K4-serve — the declared batched kNN: 5 corpus queries served in one
    * job against the stored composed index. No-oracle (learned
    * quantizer, K2 precedent); the Verify selfcheck proves batched ≡ the
    * single-query serve row-for-row for every query in the batch, every
    * run; AnnSpec pins the same on explicit pools. */
  val annBatchKnn = Q.noOracle("ann_batch_knn") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = fitAnnModel(s, emb)
    val index = annIndex(s, emb, model)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    ivfPqKnnBatch(s, emb, index, model, queries, k = 10, nProbe = 3)
  }

  /** CHUNKED batched serve (round-16, VERDICT r15 item 1): the batched
    * serve's rerank footprint is batch-size-PROPORTIONAL — Σ per-query
    * pools × 24 B of candidates must either broadcast or shuffle against
    * the corpus — so a 1000-query batch at a 4×10⁵ pool pools ~10 GB of
    * candidates and the r15 rung died on the resulting corpus re-shuffle
    * (NOTES_r15 §ANN). The batch size must never multiply the in-flight
    * shuffle/broadcast footprint: this wrapper slices the query frame
    * into driver-chosen chunks sized so each chunk's rerank frame
    * (Σ its queries' adaptive pools × 24 B) fits one budget —
    * memory-derived for payload-carrying indexes (round-18, see the
    * budget derivation in the body), the r16 256 MB broadcast bound
    * otherwise — and serves the chunks SEQUENTIALLY (each materialized
    * via eager localCheckpoint — k rows per query — before the next
    * starts), so in-flight state is one chunk's, not the batch's. With
    * a payload-carrying index the per-chunk rerank is a SHUFFLED-HASH
    * join against the chunk's list-pruned index (round-18: the
    * per-chunk pooled BROADCAST build — driver-side, single-threaded —
    * was the measured dominant chunk overhead; see the gate note in
    * ivfPqKnnBatch); the corpus is still never shuffled, because the
    * shuffled source is the chunk's probed lists only.
    *
    * Chunked ≡ unchunked row-for-row: queries are served independently
    * (per-query rank windows; the pool/probe constants derive from the
    * INDEX, not the query frame), so slicing the frame changes plans,
    * never results — AnnSpec pins it, and the chunk size is driver-known
    * so each chunk serve runs with its EXACT row count (a filter-sliced
    * chunk would otherwise estimate as the whole frame and refuse its
    * broadcast).
    *
    * HOT-LIST-AWARE COMPOSITION (round-17, VERDICT r16 missing #1). The
    * round-16 sizer charged EVERY query the worst-case pool (half the
    * nProbe largest lists), so one hot list collapsed the whole batch to
    * ~3 queries/chunk (334 chunks at the 20 M rung) and every chunk
    * re-scanned the FULL index (the 2.4×-vs-unchunked 2 M control).
    * Three changes, all driver-side, results untouched:
    *
    *  1. PER-QUERY POOLS. Probe assignment is computed up front with the
    *     serve's own array_sort-over-(−dot,cid) expression (bit-identical
    *     ranking), collected at (8 + 4·nProbe) B/query — same
    *     driver-bounded batch contract as the id collect it replaces.
    *     Each query is charged ITS adaptive pool (max(pool, ceil(Σ its
    *     probed lists / 2)) — the serve's own formula), so cold queries
    *     pack densely and only hot-list queries ride small chunks.
    *  2. PROBE-LOCALITY PACKING. Queries are packed in probe-signature
    *     order (lexicographic on the proximity-ranked list ids), so a
    *     chunk's queries share probed lists, and each chunk's index scan
    *     is PRUNED to the union of its queries' lists — on a
    *     list_id-partitioned stored index that is partition pruning, and
    *     the per-chunk rescan multiplier drops from 334× the full index
    *     to ~Σ distinct-list volumes. Pruning cannot change results: the
    *     equi-join on list_id already restricts each query to its own
    *     probed lists (the serve's default pool comes from the caller's
    *     FULL-index estimate via `poolHint`, so the pruned scan can't
    *     shrink it).
    *  3. EXACT GATE BOUND. Each chunk passes its Σ per-query pools as
    *     `knownPoolRows`, the tight true bound on its pooled-candidate
    *     frame, so the in-serve broadcast gate admits exactly the chunks
    *     the sizer packed (budget-sized cold chunks would FAIL a
    *     worst-case gate and fall back to the corpus-shuffle SMJ).
    *
    * Duplicate query_ids are dropped before chunking (ADVICE r16: a dup
    * id straddling a boundary was captured by BOTH range filters,
    * duplicating its rows vs the unchunked serve) — query_id is the
    * batch key; the serve's rank windows would merge dup rows anyway. */
  def ivfPqKnnBatchChunked(s: SparkSession, emb: DataFrame,
      index: DataFrame, model: AnnModel, queries: DataFrame, k: Int,
      nProbe: Int = 3, nCandidates: Int = -1,
      chunkBudgetBytes: Long = -1L,
      rerankInt8: Option[DataFrame] = None): DataFrame = {
    VectorOps.registerFns(s)
    import s.implicits._
    val dims = model.centroids.head._2.length
    // SHUFFLED-HASH rerank (round-18): safe exactly when the rerank
    // source is the chunk-PRUNED payload-carrying index — a shuffle
    // join is then chunk-proportional. With no payload (source = the
    // corpus table) or an explicit corpus-wide int8 frame, a per-chunk
    // shuffle would re-shuffle the corpus per chunk (the r15 ENOSPC),
    // so those keep the broadcast gate.
    val idxCols = index.columns.toSet
    val rerankShuffle = rerankInt8.isEmpty &&
      (idxCols("p_vec") || idxCols("p_codes"))
    // Chunk budget (round-18): sized to the MEMORY BUDGET, not a
    // constant. Under the shuffle rerank the budget's role is the
    // per-chunk in-flight window/shuffle state (disk-backed, per-task
    // slices ≈ budget ÷ shuffle partitions), which scales with memory —
    // clamp(4/3 × mem-per-core, 64 MB, 1 GB) reproduces the measured
    // best point (24 g × 32 → 1 GiB: chunked 59.9 s ≈ 1.04× unchunked
    // at the 2 M × 384 control; a 4 g × 32 capped heap derives 170 MB).
    // The broadcast-rerank paths keep the r16 256 MB broadcast bound —
    // there every executor holds the whole pooled relation.
    val budgetBytes =
      if (chunkBudgetBytes > 0) chunkBudgetBytes
      else if (rerankShuffle)
        math.min(1L << 30, math.max(64L << 20,
          graft.MemBudget.perCoreBytes(s) * 4 / 3))
      else RerankBroadcastBudget
    val pool = if (nCandidates > 0) nCandidates
      else pqPoolFor(dims, graft.plans.PlanStats.estRows(
        index, 20L + model.m * 4L, decompressionFactor = 1))
    val adaptive = nCandidates <= 0 && nProbe < model.centroids.size
    val sizes = if (adaptive) Some(listSizes(index)) else None
    val scored = array(model.centroids.map { case (cid, c) =>
      struct((-call_function("dot_product", col("qe"), typedLit(c)))
        .as("negdot"), lit(cid).as("cid"))
    }: _*)
    val q = queries.dropDuplicates("query_id")
    val qProbes: Array[(Long, Seq[Int])] = q
      .select(col("query_id"),
        transform(slice(array_sort(scored), 1, nProbe),
          p => p.getField("cid")).as("lists"))
      .as[(Long, Seq[Int])].collect()
    // The serve's per-query adaptive-pool formula, driver-evaluated:
    // `(sum + 1) div 2` ≡ sum/2 + sum%2 (see adaptivePool) and missing
    // lists count 0 like the serve's coalesce(element_at(…), 0).
    def qPool(lists: Seq[Int]): Long = sizes match {
      case Some(sz) =>
        val v = lists.map(l => sz.getOrElse(l, 0L)).sum
        math.max(pool.toLong, v / 2 + v % 2)
      case None => pool.toLong
    }
    // The chunk sizer and the in-serve rerank gate share ONE budget
    // (round-16 review) — and now also one per-chunk Σ-pool bound via
    // knownPoolRows, so a packed chunk is an admitted chunk.
    val budgetRows = math.max(1L, budgetBytes / 24L)
    import scala.math.Ordering.Implicits._
    val ordered = qProbes.sortBy { case (id, ls) => (ls, id) }
    val packed = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Int], Long)])
    var curRows = 0L
    ordered.foreach { case (id, ls) =>
      val p = qPool(ls)
      if (packed.last.nonEmpty && curRows + p > budgetRows) {
        packed += scala.collection.mutable.ArrayBuffer.empty
        curRows = 0L
      }
      packed.last += ((id, ls, p))
      curRows += p
    }
    val chunks = packed.filter(_.nonEmpty).map(_.toSeq).toSeq
    val nLists = model.centroids.size
    // The index pruned to a set of queries' probed lists: the rerank
    // source the shuffled rerank requires (see `rerankShuffle`).
    def probedIndex(c: Seq[(Long, Seq[Int], Long)]): DataFrame = {
      val lists = c.flatMap(_._2).distinct
      if (lists.size < nLists) index.filter(col("list_id").isin(lists: _*))
      else index
    }
    if (chunks.size <= 1)
      ivfPqKnnBatch(s, emb, probedIndex(chunks.flatten), model, q, k,
        nProbe, nCandidates,
        knownQueryRows = qProbes.length.toLong, sizesHint = sizes,
        rerankInt8 = rerankInt8, rerankBudgetBytes = budgetBytes,
        poolHint = pool,
        knownPoolRows = chunks.headOption.map(_.map(_._3).sum).getOrElse(0L),
        rerankShuffle = rerankShuffle)
    else {
      if (sys.env.contains("GRAFT_ANN_DEBUG"))
        System.err.println(s"[ann-chunk] chunks=${chunks.size} " +
          s"budgetBytes=$budgetBytes rerankShuffle=$rerankShuffle")
      // One eager materialization of the deduped query frame: 334 chunks
      // must not re-run the query source scan + dedup 334 times.
      val qc = q.localCheckpoint(true)
      // (Round-17 note: a persisted shared rerank source handed to every
      // chunk was tried here and REMOVED — see the measurement note in
      // ivfPqKnnBatch's rerank-source resolution. Round-18 note: a
      // LIST-GRANULAR cache — per-list MEMORY_AND_DISK persists with
      // last-use eviction, so each chunk still scanned only its own
      // probed lists but repeats were served from memory — was built,
      // measured at the 2 M × 384 control, and ALSO removed: same-boot
      // chunked 145.5 s with the cache vs 131.0 s without. The residual
      // chunk overhead tracks POOLED-CANDIDATE volume, not index
      // rescans — per-chunk serve time scales with Σ pools (a ¼-pool
      // chunk served in ⅓ the time) and is insensitive to chunk count
      // (3 chunks 122.2 s vs 10 chunks 126.1 s at the same Σ pools) —
      // which is why the shuffle-hash rerank below, not scan reuse, is
      // what closed the gap: chunked 126–131 s → 80.4 s at the 256 MB
      // budget, → 59.9 s ≈ 1.04× unchunked at the memory-derived
      // budget. chunked ≡ unchunked row-identity held in every run.)
      val served = chunks.zipWithIndex.map { case (c, i) =>
        val ids = c.map(_._1)
        // In-set predicate pushes to the source for driver-friendly
        // chunk sizes; very large cold chunks use a broadcast semi-join
        // of the (driver-resident) id list, not a 100 k-term predicate.
        val chunkQ =
          if (ids.size <= 8192) qc.filter(col("query_id").isin(ids: _*))
          else qc.join(broadcast(ids.toDF("query_id")),
            Seq("query_id"), "left_semi")
        val chunkIdx = probedIndex(c)
        // The eager localCheckpoint materializes chunk i fully (k rows
        // per query) before chunk i+1 constructs — in-flight state is
        // one chunk's, never the batch's.
        val t0 = System.nanoTime()
        val out = ivfPqKnnBatch(s, emb, chunkIdx, model, chunkQ, k, nProbe,
          nCandidates, knownQueryRows = ids.size.toLong,
          sizesHint = sizes, rerankInt8 = rerankInt8,
          rerankBudgetBytes = budgetBytes, poolHint = pool,
          knownPoolRows = c.map(_._3).sum, rerankShuffle = rerankShuffle)
          .localCheckpoint(true)
        if (sys.env.contains("GRAFT_ANN_DEBUG"))
          System.err.println(f"[ann-chunk] chunk=$i queries=${ids.size} " +
            f"lists=${c.flatMap(_._2).distinct.size} " +
            f"pools=${c.map(_._3).sum} " +
            f"serve=${(System.nanoTime() - t0) / 1e9}%.1fs")
        out
      }
      served.reduce(_ unionAll _).orderBy("query_id", "rank")
    }
  }

  /** K4-serve at the batch-size axis — the declared chunked batch serve:
    * the same 5-query batch as `ann_batch_knn` forced through multiple
    * chunks (a 1-query budget), proving the slicing is invisible to
    * results. No-oracle (learned quantizer, K2 precedent); the Verify
    * selfcheck proves chunked ≡ the unchunked batch row-for-row. */
  val annBatchKnnChunked = Q.noOracle("ann_batch_knn_chunked") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = fitAnnModel(s, emb)
    // Float payload (round-17): the declared chunked key serves its rerank
    // FROM the index, so the selfcheck (chunked ≡ the plain-index,
    // corpus-rerank `ann_batch_knn`) also pins payload-rerank ≡
    // corpus-rerank row-for-row.
    val index = annIndex(s, emb, model, payload = "float")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // Budget of one worst-pool row-set per chunk: 5 queries → 5 chunks.
    ivfPqKnnBatchChunked(s, emb, index, model, queries, k = 10, nProbe = 3,
      chunkBudgetBytes = 1L)
  }

  /** Affine int8 quantization of a (vec_id, embedding) float-vector table
    * — the STORAGE form for width-heavy corpora (round-16, VERDICT r15
    * item 2): codes are ~4× smaller than float32, which is the difference
    * between a 61 GB and a ~15 GB 20 M × 768-d corpus. Per-vector affine
    * law (the oracled `embedding_quantize_int8` audit's): code =
    * round((x − min) / scale), scale = (max − min)/255, dequant = min +
    * code·scale; zero-range vectors take scale 0 and all-zero codes.
    * Codes ride array<smallint> (values 0..255 — parquet dictionary/RLE
    * brings them near 1 byte each); bounds stay double so dequant loses
    * nothing beyond the quantization grid itself. */
  def quantizeInt8(emb: DataFrame): DataFrame =
    // Three-phase projection so array_min/array_max each evaluate ONCE
    // per vector (round-17, VERDICT r16 watch item: the two-select form
    // re-evaluated array_min inside the scale expression after Catalyst
    // collapsed the projections — harmless at build time, but ingest is
    // a corpus-wide scan and the extra O(dims) pass was free to drop).
    emb.select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("q_min"),
        array_max(col("embedding")).cast("double").as("q_max"))
      .select(col("vec_id"), col("embedding"), col("q_min"),
        ((col("q_max") - col("q_min")) / 255.0).as("q_scale"))
      .select(col("vec_id"), col("q_min"), col("q_scale"),
        transform(col("embedding"), x =>
          when(col("q_scale") === 0.0, lit(0))
            .otherwise(round((x.cast("double") - col("q_min")) /
              col("q_scale"), 0))
            .cast("smallint")).as("codes"))

  /** Dequantized float view over a [[quantizeInt8]] table — feeds model
    * FIT and index BUILD (one-time corpus scans); serves must NOT read
    * it (a corpus-wide decode per serve) — they pass the int8 table as
    * `rerankInt8` so only the joined shortlist dequantizes. */
  def dequantInt8(int8: DataFrame): DataFrame =
    int8.select(col("vec_id"),
      transform(col("codes"), c =>
        (col("q_min") + c.cast("double") * col("q_scale")).cast("float"))
        .as("embedding"))

  /** K4 at the width axis — the declared int8-stored serve: the corpus is
    * quantized to the affine-int8 storage form, the composed IVF+PQ index
    * builds over the DEQUANTIZED view (one-time scan), and the batch
    * serve reranks by dequantizing only the joined shortlist. No-oracle
    * (learned quantizer, K2 precedent); the Verify selfcheck measures
    * recall@10 vs the exact FLOAT top-k — the end-to-end cost of both
    * quantizations — and pins a floor. */
  val annInt8Knn = Q.noOracle("ann_int8_knn") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val int8 = quantizeInt8(emb)
    val deq = dequantInt8(int8)
    val model = fitAnnModel(s, deq)
    val index = annIndex(s, deq, model)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    ivfPqKnnBatch(s, deq, index, model, queries, k = 10, nProbe = 3,
      rerankInt8 = Some(int8))
  }

  /** Predicate-FILTERED batched composed IVF+PQ serve (round-14, VERDICT
    * r13 next-item 1 — the first production vector-search query: "top-k
    * similar WHERE lang = 'en' AND date > X"): candidates must satisfy an
    * arbitrary metadata `predicate` over a (vec_id → attrs) side table.
    * Generalizes the tombstone mask (a masked serve is the special case
    * predicate = "vec_id ∉ deleted") with the two scale controls a
    * fixed-probe filtered serve silently lacks:
    *
    *  1. SELECTIVITY-AWARE PROBE WIDENING. A selective filter starves the
    *     candidate pool at fixed nProbe — the filtered top-k can live in
    *     lists the probe ranking never visits, and recall collapses with
    *     no error raised. The serve measures the survivor count with ONE
    *     exact column-pruned count per BATCH (amortized across the query
    *     frame; the zero-job footer estimate is filter-blind — the
    *     fitAnnModel admission lesson, code review round-11) and widens
    *     the probe to ceil(nProbe / selectivity) clamped to nLists: at
    *     50 % selectivity a 3-probe serve probes 6 lists; at ≤
    *     nProbe/nLists selectivity it degrades to a FULL probe — still an
    *     ADC scan of survivor codes, never an exact scan of the corpus.
    *  2. EXACT-OVER-SURVIVORS FALLBACK. Below `exactGateRows` survivors
    *     probing is pointless and quantization error is pure loss (the
    *     decontaminate_embedding reroute precedent, CurationOps2): the
    *     serve brute-forces exact cosine over the (gate-bounded) survivor
    *     vectors. Output schema, k-cut, and ordering are identical on
    *     both routes, so the route is invisible to consumers.
    *
    * The candidate pool stays pinned to the UNFILTERED index estimate
    * (the masked-serve contract — stable across filter selectivity), so
    * a full-probe corpus-pool filtered serve is row-identical to the
    * exact filtered top-k (AnnSpec pins it). Survivor ids semi-join the
    * index BEFORE the ADC scan — broadcast under a byte gate, else the
    * hint is dropped and the optimizer picks the join strategy (the
    * dims-localize rule: refusal degrades to optimizer choice, never a
    * forced shuffle). */
  /** The probe-widening law of the filtered serve, as a pure function so
    * AnnSpec can pin it: expected survivor mass per probed list scales
    * with selectivity, so the probe count scales with 1/selectivity —
    * ceil(nProbe / sel), floored at the caller's nProbe (sel = 1 changes
    * nothing) and clamped to nLists (a FULL probe is the widest possible;
    * past that the exact-fallback gate is the only further remedy). */
  def widenedProbe(nProbe: Int, nLists: Int, selectivity: Double): Int = {
    require(selectivity > 0.0 && selectivity <= 1.0,
      s"selectivity must be in (0, 1], got $selectivity")
    math.max(nProbe,
      math.min(nLists, math.ceil(nProbe / selectivity).toInt))
  }

  def ivfPqKnnFilteredBatch(s: SparkSession, emb: DataFrame,
      index: DataFrame, attrs: DataFrame, predicate: Column,
      model: AnnModel, queries: DataFrame, k: Int, nProbe: Int = 3,
      nCandidates: Int = -1, exactGateRows: Long = 50000L): DataFrame = {
    VectorOps.registerFns(s)
    import org.apache.spark.sql.expressions.Window
    val dims = model.centroids.head._2.length
    val survivors = attrs.filter(predicate).select(col("vec_id"))
    val nSurv = survivors.count()
    if (nSurv <= exactGateRows) {
      // Exact route: survivor embeddings (bounded by the gate) against
      // the query frame. The query side is byte-gated exactly like the
      // ANN batch serve; survivors are gate-bounded so their semi-join
      // side always fits a broadcast.
      val qRows = graft.plans.PlanStats.estRows(queries, 8L + dims * 4L)
      val qSmall = qRows * (8L + dims * 4L) <= BigInt(RerankBroadcastBudget)
      def sided(df: DataFrame): DataFrame =
        if (qSmall) broadcast(df) else df
      val sEmb = emb.join(broadcast(survivors), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("embedding"))
      val scored = sEmb
        .join(sided(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
            .as("sim"))
      val topW = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(topW))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id"), col("sim"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    } else {
      val nTotal = graft.plans.PlanStats.estRows(
        index, 20L + model.m * 4L, decompressionFactor = 1)
      val pool = if (nCandidates > 0) nCandidates else pqPoolFor(dims, nTotal)
      // Selectivity from the exact survivor count over the (possibly
      // estimated) total; clamped to 1 so an under-estimated total can
      // only WIDEN the probe, never narrow it below the caller's nProbe.
      val sel = math.min(1.0,
        nSurv.toDouble / nTotal.max(BigInt(nSurv)).toDouble)
      val effProbe = widenedProbe(nProbe, model.centroids.size, sel)
      val survSided =
        if (BigInt(nSurv) * 8L <= BigInt(64L << 20)) broadcast(survivors)
        else survivors
      val filtered = index.join(survSided, Seq("vec_id"), "left_semi")
      ivfPqKnnBatch(s, emb, filtered, model, queries, k, effProbe,
        nCandidates = pool)
    }
  }

  /** K4-filter — the declared predicate-filtered serve: 5 corpus queries,
    * filter `label < 5` (~50 % selectivity) over the embeddings table's
    * own metadata column, served through the widened-probe ANN route
    * (exact gate pinned below the verify-tier survivor count so the ANN
    * path — the 100 TB shape — is what verification exercises; the
    * selfcheck ALSO runs a ~1 %-selectivity serve through the exact
    * fallback). No-oracle (learned quantizer, K2 precedent); the Verify
    * selfcheck proves no non-matching id is returned and measures recall
    * vs the exact filtered top-k at BOTH selectivities; AnnSpec pins
    * full-probe corpus-pool filtered ≡ exact filtered top-k. */
  val annFilteredKnn = Q.noOracle("ann_filtered_knn") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = fitAnnModel(s, emb)
    val index = annIndex(s, emb, model)
    val attrs = emb.select(col("vec_id"), col("label"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    ivfPqKnnFilteredBatch(s, emb, index, attrs, col("label") < 5, model,
      queries, k = 10, nProbe = 3, exactGateRows = 64L)
  }

  /** Tombstone-MASKED composed IVF+PQ serve (round-13, VERDICT r12 next
    * item 1 — the delete half of the index lifecycle): identical to
    * [[ivfPqKnnFromIndex]] except deleted vec_ids are anti-joined out of
    * the probed index rows BEFORE the ADC scan, so a deleted vector can
    * never surface — not as a result, not even as a candidate that
    * crowds the pool. The tombstone set is broadcast: between
    * physical deletes it is bounded by the delete policy (the same
    * contract as GraftLog's copy-on-write delete queue and IndexOps'
    * `index_delete_docs` masks — this composes those two in-repo
    * patterns), so the mask is a broadcast-hash anti-join on an 8-byte
    * key inside the already-pruned `nProbe` lists, never a shuffle.
    *
    * The candidate pool is sized from the UNMASKED stored index (stable
    * across delete churn; becomes exact again once
    * [[AnnIndexLog.delete]] removes the rows) — so a masked serve over
    * index I with tombstones T is row-identical to the unmasked serve
    * over the post-delete snapshot (I ∖ T) at the same explicit pool,
    * which AnnLogSpec pins. */
  def ivfPqKnnFromIndexMasked(s: SparkSession, emb: DataFrame,
      index: DataFrame, tombstones: DataFrame, model: AnnModel,
      queryId: Long, k: Int, nProbe: Int = 3,
      nCandidates: Int = -1): DataFrame = {
    val dims = model.centroids.head._2.length
    val pool = if (nCandidates > 0) nCandidates
      else pqPoolFor(dims, graft.plans.PlanStats.estRows(
        index, 20L + model.m * 4L, decompressionFactor = 1))
    val masked = index.join(
      broadcast(tombstones.select(col("vec_id"))), Seq("vec_id"),
      "left_anti")
    ivfPqKnnFromIndex(s, emb, masked, model, queryId, k, nProbe,
      nCandidates = pool)
  }

  /** K4-lifecycle — the declared delete/tombstone serve: a third of the
    * corpus (vec_id ≡ 1 mod 3) is deleted, and the composed IVF+PQ serve
    * runs under the tombstone mask. No-oracle (learned quantizer, the K2
    * precedent); the Verify selfcheck proves no deleted id is returned
    * and measures recall vs the exact cosine top-k over the SURVIVING
    * corpus; AnnLogSpec pins masked ≡ post-delete snapshot ≡
    * survivor-rebuilt serve and the delete's file accounting. */
  val annDeleteIvf = Q.noOracle("ann_delete_ivf") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = fitAnnModel(s, emb)
    val index = annIndex(s, emb, model)
    val tombs = emb.select(col("vec_id")).filter(col("vec_id") % 3 === 1)
    ivfPqKnnFromIndexMasked(s, emb, index, tombs, model, queryId = 0L,
      k = 20, nProbe = 3)
  }

  /** [[AnnIndexLog]] accessor for the private probe-list ranking
    * (identical to the direct serve's — the log-backed serve must score
    * exactly like [[ivfKnnFromIndex]]). */
  private[operators] def probeListsForModel(model: AnnModel,
      q: Seq[Float], nProbe: Int): Seq[Int] =
    probeListsFor(model.centroids, q, nProbe)

  /** Nearest-centroid list id of `embedding` under `model` — the native
    * [[graft.functions.NearestCentroid]] kernel. It returns the POSITION
    * in the sorted centroid matrix; the lookup translates it to the
    * model's cid (identical when cids are 0..k-1). [[annIndex]] assigns
    * with it, and so does the [[AnnIndexLog.rebalance]] re-assignment. */
  private[operators] def listAssign(model: AnnModel): Column = {
    val dims = model.centroids.head._2.length
    val cids = model.centroids.map(_._1)
    val centFlat = model.centroids.flatMap(_._2)
    val pos = call_function("nearest_centroid", col("embedding"),
      typedLit(centFlat), lit(cids.length), lit(dims))
    element_at(typedLit(cids), pos + 1)
  }

  /** K4-lifecycle — the declared churn-repair rung, run on the
    * snapshot-isolated log: [[AnnIndexLog.build]] over the stable 90 %
    * of the corpus under a model fit on it, the remaining tenth
    * [[AnnIndexLog.upsert]]ed under the frozen model (the drift), then
    * [[AnnIndexLog.rebalance]] refines the centroids and re-assigns the
    * drifted lists. Output = the postings at the rebalanced snapshot,
    * flat-rendered like [[annIndexBuild]]. No-oracle (learned quantizer,
    * K2 precedent); AnnLogSpec pins content ≡ fresh assignment under the
    * refined model + the recall-recovery churn sequence; the Verify
    * selfcheck re-proves content equivalence every run. */
  val annRebalanceIvf = Q.noOracle("ann_rebalance_ivf") { (s, dir) =>
    val (idxDir, r) = rebalancedChurnLog(s, t(s, dir, "embeddings"))
    AnnIndexLog.postings(s, idxDir, r)
      .select(col("vec_id"), col("list_id"),
        concat_ws(",", col("codes").cast("array<string>")).as("pq_codes"))
      .orderBy("vec_id")
  }

  /** The [[annRebalanceIvf]] churn sequence on a fresh scratch log:
    * returns the index directory and its resolved rebalanced snapshot
    * (whose model is the refined one). Shared with the Verify
    * selfcheck, which compares the snapshot to a fresh build under
    * that model. */
  private[graft] def rebalancedChurnLog(s: SparkSession,
      emb: DataFrame): (String, AnnIndexLog.Resolved) = {
    val hist = emb.filter(col("vec_id") % 10 =!= 0)
    val idxDir = graft.ScratchDir.create("graft_ann_rebalance")
    AnnIndexLog.build(s, idxDir, hist, fitAnnModel(s, hist))
    AnnIndexLog.upsert(s, idxDir, emb.filter(col("vec_id") % 10 === 0))
    AnnIndexLog.rebalance(s, idxDir, emb)
    (idxDir, AnnIndexLog.resolve(s, idxDir))
  }

  /** Incremental index maintenance (VERDICT r6 item 8 — the ANN analogue
    * of `dedup_incremental_minhash`): a new ingest batch is quantized with
    * the STORED model and appended to the stored index. Only the new
    * batch is scanned — the historical corpus never re-quantizes, and the
    * index stays partitioned by `list_id` because assignment is per-row
    * under a frozen model. Model drift is the accepted trade (production
    * re-fits periodically; `ann_recall_report` is the drift monitor). */
  def ivfUpsert(s: SparkSession, storedIndex: DataFrame,
      newBatch: DataFrame, model: AnnModel): DataFrame =
    storedIndex.unionByName(annIndex(s, newBatch, model))

  /** K-index — declared incremental upsert: history = vec_id % 10 ≠ 0
    * (the stored index + the frozen model), new batch = the rest. Output
    * is the upserted index, flat-rendered like [[annIndexBuild]], with
    * the batch provenance column an ingest pipeline audits. No-oracle
    * (learned quantizer, K2 precedent); AnnSpec proves the upsert is
    * row-identical to a full same-model rebuild — through a
    * write→read round-trip of the stored index, the production shape. */
  val annUpsertIvf = Q.noOracle("ann_upsert_ivf") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val hist = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val model = fitAnnModel(s, hist)
    val stored = annIndex(s, hist, model)
      .withColumn("src", lit("stored"))
    val upserted = stored.unionByName(
      annIndex(s, batch, model).withColumn("src", lit("new")))
    upserted
      .select(col("vec_id"), col("list_id"),
        concat_ws(",", col("codes").cast("array<string>")).as("pq_codes"),
        col("src"))
      .orderBy("vec_id")
  }

  /** K4-lifecycle — the snapshot-isolated serve (round 15, VERDICT r14
    * next-item 3): builds the GraftLog-versioned index
    * ([[AnnIndexLog.build]] — postings as an ACID table clustered and
    * stats-pruned on list_id, model blob + manifest row as the atomic
    * publication), then serves IVF kNN from the resolved snapshot.
    * ORACLED: the serve's ranking/assignment kernels are the
    * [[ivfKnnFromIndex]] ones (AnnLogSpec pins row-identity), so the
    * [[annIvfKnn]] full-replay DuckDB oracle applies verbatim — a hash
    * match proves the whole log round-trip (write → manifest → snapshot
    * read → probe-pruned serve), not just a recall floor. */
  val annTxlogServe = Q("ann_txlog_serve", annIvfKnn.oracle.get) {
    (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = fitAnnModel(s, emb)
      val idxDir = graft.ScratchDir.create("graft_annlog_serve")
      AnnIndexLog.build(s, idxDir, emb, model)
      AnnIndexLog.serveIvfKnn(s, idxDir, emb, queryId = 0L, k = 20,
        nProbe = 3)
  }

  val all: Seq[Q] =
    Seq(annLshTopK, annIvfKnn, annPqKnn, annIvfPqKnn, annIndexBuild,
      annUpsertIvf, annDeleteIvf, annBatchKnn, annBatchKnnChunked,
      annInt8Knn, annFilteredKnn, annRebalanceIvf, annTxlogServe)
}
