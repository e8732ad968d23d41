package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.AnnOps.AnnModel
import graft.sources.TxLog

/** Snapshot-isolated ANN index lifecycle over GraftLog (round 15, VERDICT
  * r14 next-item 3).
  *
  * The plain stored index (a `list_id=`-partitioned parquet dir with
  * `_SUCCESS` guards) has no isolation story: a serve racing a
  * rebalance's dynamic partition overwrite can read half-rewritten lists,
  * and the model the serve probes with can mismatch the layout it scans.
  * The repo already owns an ACID table format with snapshot reads and
  * time travel ([[graft.sources.TxLog]]); this object versions the index
  * with it.
  *
  * Layout under `indexDir`:
  *  - `postings/` — a GraftLog table `(vec_id BIGINT, list_id INT,
  *    codes ARRAY<INT>)`, statsCol = `list_id`, every append clustered by
  *    `list_id` so a probe's per-list read opens only stats-overlapping
  *    files (the data-skipping path — IVF probing at 100 TB must not
  *    list the corpus).
  *  - `models/` — immutable JSON blobs, one per committed model (IVF
  *    centroids + PQ codebooks; kilobytes, rendered with round-tripping
  *    `Double.toString`).
  *  - `manifest/` — a GraftLog table `(seq BIGINT, postings_version
  *    BIGINT, model_path STRING)`. **The manifest append is the single
  *    linearization point**: every lifecycle mutation first lands its
  *    postings commits and model blob, THEN appends one manifest row
  *    binding (postings log version, model path). A serve resolves one
  *    manifest row and reads the postings AT THAT LOG VERSION — postings
  *    files are immutable once committed, so a concurrent
  *    rebalance/upsert can never change what a resolved serve reads, and
  *    a crash between postings commits and the manifest append leaves
  *    only unreferenced versions (invisible to serves, vacuumable).
  *    Time travel = resolving an older `seq`.
  *
  * Concurrency contract: any number of concurrent readers against any
  * number of lifecycle writers (reader isolation is the design above);
  * lifecycle mutations themselves assume a single maintainer at a time —
  * the standard index-maintenance deployment (TxLog's claim loop still
  * serializes rogue concurrent commits; last manifest row wins).
  */
object AnnIndexLog {

  /** One resolved manifest row — the consistent view a serve rides. */
  final case class Resolved(seq: Long, postingsVersion: Long,
      modelPath: String, model: AnnModel)

  private def postingsTable(indexDir: String) = s"$indexDir/postings"
  private def manifestTable(indexDir: String) = s"$indexDir/manifest"

  private val postingsSchema =
    StructType.fromDDL("vec_id BIGINT, list_id INT, codes ARRAY<INT>")
  private val manifestSchema =
    StructType.fromDDL("seq BIGINT, postings_version BIGINT, model_path STRING")

  // ---- model blob (manual render, jackson parse — the TxLog style) ----

  private def renderModel(m: AnnModel): String = {
    def arr(xs: Seq[Double]) = xs.map(_.toString).mkString("[", ",", "]")
    val cents = m.centroids
      .map { case (cid, v) => s"""{"cid":$cid,"v":${arr(v)}}""" }
      .mkString("[", ",", "]")
    val books = m.codebooks
      .map(sub => sub.map(arr).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"nLists":${m.nLists},"m":${m.m},"dsub":${m.dsub},"ksub":${m.ksub},""" +
      s""""centroids":$cents,"codebooks":$books}"""
  }

  private def parseModel(json: String): AnnModel = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    def darr(n: com.fasterxml.jackson.databind.JsonNode): Seq[Double] =
      n.elements().asScala.map(_.asDouble()).toSeq
    AnnModel(
      root.get("nLists").asInt(),
      root.get("centroids").elements().asScala
        .map(c => (c.get("cid").asInt(), darr(c.get("v")))).toSeq,
      root.get("m").asInt(), root.get("dsub").asInt(), root.get("ksub").asInt(),
      root.get("codebooks").elements().asScala
        .map(sub => sub.elements().asScala.map(darr).toArray).toArray)
  }

  private def writeModelBlob(indexDir: String, seq: Long,
      model: AnnModel): String = {
    val dir = java.nio.file.Paths.get(indexDir, "models")
    java.nio.file.Files.createDirectories(dir)
    // Immutable, uniquely named: a retried commit never overwrites a blob
    // an earlier manifest row references.
    val p = dir.resolve(
      s"model-$seq-${java.util.UUID.randomUUID().toString.take(8)}.json")
    java.nio.file.Files.write(p, renderModel(model).getBytes("UTF-8"))
    p.toString
  }

  private def appendManifest(spark: SparkSession, indexDir: String,
      seq: Long, postingsVersion: Long, modelPath: String): Long = {
    import spark.implicits._
    TxLog.append(spark, manifestTable(indexDir),
      Seq((seq, postingsVersion, modelPath))
        .toDF("seq", "postings_version", "model_path"))
    seq
  }

  // ---- lifecycle ----

  /** Initial build: postings table + model blob + manifest seq 1. */
  def build(spark: SparkSession, indexDir: String, emb: DataFrame,
      model: AnnModel): Long = {
    TxLog.create(spark, postingsTable(indexDir), postingsSchema,
      statsCol = Some("list_id"))
    val pv = TxLog.append(spark, postingsTable(indexDir),
      AnnOps.annIndex(spark, emb, model), clusterBy = Some("list_id"))
    TxLog.create(spark, manifestTable(indexDir), manifestSchema,
      statsCol = Some("seq"))
    appendManifest(spark, indexDir, 1L,
      pv, writeModelBlob(indexDir, 1L, model))
  }

  /** Resolve the manifest at `asOfSeq` (default: latest) into the
    * consistent (postings version, model) pair a serve reads. */
  def resolve(spark: SparkSession, indexDir: String,
      asOfSeq: Option[Long] = None): Resolved = {
    val rows = TxLog.snapshot(spark, manifestTable(indexDir))
      .filter(asOfSeq.map(s => col("seq") <= s).getOrElse(lit(true)))
      .orderBy(col("seq").desc, col("postings_version").desc)
      .limit(1).collect()
    require(rows.nonEmpty,
      s"no manifest row at seq<=${asOfSeq.getOrElse("latest")} in $indexDir")
    val r = rows.head
    val path = r.getString(2)
    Resolved(r.getLong(0), r.getLong(1), path,
      parseModel(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        "UTF-8")))
  }

  /** Full postings read at the resolved snapshot. */
  def postings(spark: SparkSession, indexDir: String,
      r: Resolved): DataFrame =
    TxLog.snapshot(spark, postingsTable(indexDir), Some(r.postingsVersion))

  /** Stats-pruned postings read of just `lists` at the resolved snapshot:
    * only files whose [min,max] list_id interval overlaps a probed list
    * are opened — the file-skipping analogue of `list_id=` partition
    * pruning, against an immutable version. */
  def postingsForLists(spark: SparkSession, indexDir: String, r: Resolved,
      lists: Seq[Int]): DataFrame = {
    val (files, meta) =
      TxLog.state(postingsTable(indexDir), Some(r.postingsVersion))
    val cand = lists.flatMap(l =>
      TxLog.overlapping(files, meta, l.toString, l.toString))
      .distinctBy(_.path)
    TxLog.readFiles(spark, cand, meta)
      .filter(col("list_id").isin(lists: _*))
  }

  /** IVF kNN serve against the resolved snapshot — identical semantics to
    * [[AnnOps.ivfKnnFromIndex]] (AnnLogSpec pins it), with the probe's
    * list reads stats-pruned at the snapshot's file set. */
  def serveIvfKnn(spark: SparkSession, indexDir: String, emb: DataFrame,
      queryId: Long, k: Int, nProbe: Int = 3,
      asOfSeq: Option[Long] = None): DataFrame = {
    val r = resolve(spark, indexDir, asOfSeq)
    serveIvfKnnResolved(spark, indexDir, emb, r, queryId, k, nProbe)
  }

  /** Serve against an ALREADY-resolved snapshot (the isolation contract:
    * resolving once and serving many times reads one consistent version
    * regardless of concurrent lifecycle commits). */
  def serveIvfKnnResolved(spark: SparkSession, indexDir: String,
      emb: DataFrame, r: Resolved, queryId: Long, k: Int,
      nProbe: Int = 3): DataFrame = {
    VectorOps.registerFns(spark)
    import spark.implicits._
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val qVec = q.as[Seq[Float]].head()
    val probe = AnnOps.probeListsForModel(r.model, qVec, nProbe)
    val cands = postingsForLists(spark, indexDir, r, probe)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("list_id"))
    // Same candidate-side broadcast gate as AnnOps.ivfKnnFromIndex
    // (round-15, the 20 M rung's full-corpus-shuffle finding); the
    // snapshot's file-pruned read gives the exact candidate file set,
    // so the estimate is the pruned files' footer rows.
    val estCands = graft.plans.PlanStats.estRows(cands, 20L,
      decompressionFactor = 1)
    val candArm =
      if (estCands * 24 <= BigInt(AnnOps.RerankBroadcastBudget)) broadcast(cands)
      else cands
    candArm
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("list_id"),
        round(call_function("cosine_sim", col("embedding"), col("qe")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Mutators build on the resolved snapshot; if the postings log is
    * AHEAD of it (a crashed mutation's orphan commit), building on
    * "latest" would silently publish the orphan's files at the next
    * manifest row — refuse instead (repair = vacuum the orphan versions,
    * or re-point the manifest). */
  private def requireNoOrphans(indexDir: String, r: Resolved): Unit = {
    val latest = TxLog.latestVersion(postingsTable(indexDir))
    require(latest == r.postingsVersion,
      s"postings log at v$latest is ahead of manifest v${r.postingsVersion} " +
        s"(orphaned commit from a crashed mutation) — repair before mutating")
  }

  /** Incremental upsert: quantize `newBatch` under the CURRENT model and
    * append — only the batch is scanned, history never re-quantizes (the
    * [[AnnOps.ivfUpsert]] contract), and the new rows become visible
    * atomically at the manifest append. */
  def upsert(spark: SparkSession, indexDir: String,
      newBatch: DataFrame): Long = {
    val r = resolve(spark, indexDir)
    requireNoOrphans(indexDir, r)
    val pv = TxLog.append(spark, postingsTable(indexDir),
      AnnOps.annIndex(spark, newBatch, r.model), clusterBy = Some("list_id"))
    appendManifest(spark, indexDir, r.seq + 1,
      pv, writeModelBlob(indexDir, r.seq + 1, r.model))
  }

  /** Tombstone delete: rewrites ONLY files stats-overlapping the deleted
    * rows' lists (affected-list discovery joins the snapshot postings —
    * an nLists-bounded collect), commits survivors file-atomically, then
    * publishes via the manifest. */
  def delete(spark: SparkSession, indexDir: String,
      tombstones: DataFrame): Long = {
    val r = resolve(spark, indexDir)
    requireNoOrphans(indexDir, r)
    val tombs = broadcast(tombstones.select(col("vec_id")))
    val affected = postings(spark, indexDir, r)
      .join(tombs, Seq("vec_id")).select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val pv =
      if (affected.isEmpty) r.postingsVersion
      else {
        val (files, meta) = TxLog.state(postingsTable(indexDir))
        val touched = affected.flatMap(l =>
          TxLog.overlapping(files, meta, l.toString, l.toString))
          .distinctBy(_.path)
        // Re-cluster survivors on list_id before the rewrite (code
        // review round-15): writing them as-read packs many lists'
        // rows into each new file, whose [min,max] stats then overlap
        // nearly every probe — the data-skipping property would decay
        // with each delete.
        val survivors = TxLog.readFiles(spark, touched, meta)
          .join(tombs, Seq("vec_id"), "left_anti")
          .repartitionByRange(
            spark.sessionState.conf.numShufflePartitions, col("list_id"))
          .sortWithinPartitions("list_id")
        TxLog.commit(postingsTable(indexDir), "ann-delete",
          TxLog.writeFiles(spark, postingsTable(indexDir), survivors, meta),
          touched.map(_.path), expectActive = true)
      }
    appendManifest(spark, indexDir, r.seq + 1,
      pv, writeModelBlob(indexDir, r.seq + 1, r.model))
  }

  /** Rebalance under churn: upserts append to frozen lists
    * and deletes shrink them, but nothing re-trains — after heavy churn
    * list sizes skew, centroids drift off the live distribution, and
    * serve recall degrades with no remedy but a full rebuild. This
    * mutator:
    *
    *  1. REFINES the centroids by Lloyd iterations SEEDED FROM THE
    *     RESOLVED MODEL over the bounded [[AnnOps.fitSample]] of `emb`
    *     (the live corpus — never a corpus-sized fit). Seeding preserves
    *     centroid ids by position, so after small drift most rows keep
    *     their assignment and the rewrite stays proportional to the
    *     drift, not the corpus — a fresh k-means would scramble ids and
    *     force a full rewrite every time.
    *  2. GATES per list: one narrow corpus scan computes each vector's
    *     refined assignment (codes are NOT recomputed, the PQ codebooks
    *     stay frozen); a list rebalances only when the fraction of its
    *     members moving out exceeds `driftThreshold` (per-list stats are
    *     an nLists-row collect). Rows in below-threshold lists stay put
    *     — bounded staleness in exchange for bounded rewrite.
    *  3. REWRITES file-atomically: only files of over-threshold lists
    *     are rewritten (one commit: add survivors+movers, remove touched
    *     files) — movers land in their target lists as NEW clustered
    *     files, so targets are never rewritten.
    *
    * The refined model and the rebalanced postings version publish
    * together in ONE manifest row — a serve resolved before it keeps the
    * old (model, postings) pair, a serve after gets the refined pair, so
    * probing a new layout with an old model cannot happen.
    *
    * Every postings row must have a live embedding in `emb` (delete
    * first — the inner join drops rows without a vector, which would
    * silently shrink the rewritten lists). At driftThreshold 0 the
    * rebalanced content is row-identical to a fresh [[AnnOps.annIndex]]
    * build under the refined model (AnnLogSpec pins it). Returns the new
    * manifest seq and the refined model. */
  def rebalance(spark: SparkSession, indexDir: String, emb: DataFrame,
      lloydIters: Int = 3, fitSampleCap: Long = 200000L,
      driftThreshold: Double = 0.0): (Long, AnnModel) = {
    VectorOps.registerFns(spark)
    require(driftThreshold >= 0.0 && driftThreshold < 1.0,
      s"driftThreshold must be in [0, 1), got $driftThreshold")
    val r = resolve(spark, indexDir)
    requireNoOrphans(indexDir, r)
    val refinedCents = ClusterOps.kmeansFit(spark,
        AnnOps.fitSample(emb, fitSampleCap)
          .select(col("vec_id"), col("embedding")),
        k = r.model.nLists, iters = lloydIters,
        init = Some(r.model.centroids.toArray))._2.sortBy(_._1).toSeq
    val refined = r.model.copy(centroids = refinedCents)
    val stored = postings(spark, indexDir, r)
    val newAssign = emb.select(col("vec_id"),
      AnnOps.listAssign(refined).as("new_list"))
    val joined = stored.join(newAssign, Seq("vec_id"))
    val drift = joined.groupBy("list_id").agg(
        count(lit(1)).as("n"),
        count(when(col("new_list") =!= col("list_id"), 1)).as("moved"))
      .collect()
      .map(row => (row.getInt(0), row.getLong(1), row.getLong(2)))
    val drifted = drift.filter { case (_, n, moved) =>
      moved.toDouble / n > driftThreshold
    }.map(_._1).toSeq.sorted
    val pv =
      if (drifted.isEmpty) r.postingsVersion
      else {
        val (files, meta) = TxLog.state(postingsTable(indexDir))
        val touched = drifted.flatMap(l =>
          TxLog.overlapping(files, meta, l.toString, l.toString))
          .distinctBy(_.path)
        // Rows living in touched FILES (stats overlap can pull in
        // neighbours of a drifted list): movers from drifted lists take
        // their new assignment, everything else keeps its list — so
        // co-located non-drifted rows rewrite byte-equal, never move.
        val rewritten = TxLog.readFiles(spark, touched, meta)
          .join(newAssign, Seq("vec_id"))
          .withColumn("out_list",
            when(col("list_id").isin(drifted: _*) &&
              col("new_list") =!= col("list_id"), col("new_list"))
              .otherwise(col("list_id")))
          .select(col("vec_id"), col("out_list").as("list_id"), col("codes"))
        val n = spark.sessionState.conf.numShufflePartitions
        val clustered = rewritten
          .repartitionByRange(n, col("list_id"))
          .sortWithinPartitions("list_id")
        TxLog.commit(postingsTable(indexDir), "ann-rebalance",
          TxLog.writeFiles(spark, postingsTable(indexDir), clustered, meta),
          touched.map(_.path), expectActive = true)
      }
    (appendManifest(spark, indexDir, r.seq + 1,
      pv, writeModelBlob(indexDir, r.seq + 1, refined)), refined)
  }
}
