package graft

import graft.operators.{AnnIndexLog, AnnOps}
import graft.sources.TxLog
import org.apache.spark.sql.functions._

/** Laws for the GraftLog-versioned ANN index (round 15, VERDICT r14
  * next-item 3): serve ≡ direct, snapshot isolation under a concurrent
  * rebalance, time travel, upsert/delete lifecycle (masked serve ≡
  * post-delete serve, delete file accounting), the rebalance ≡
  * fresh-build equivalence at threshold 0, drift recall recovery and
  * the threshold gate.
  */
class AnnLogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  private def freshDir(): String = ScratchDir.create("graft_annlog_spec")

  /** Structural model equality — AnnModel's codebooks are Arrays, whose
    * case-class equals is reference-based. */
  private def modelEq(a: AnnOps.AnnModel, b: AnnOps.AnnModel): Boolean =
    a.nLists == b.nLists && a.m == b.m && a.dsub == b.dsub &&
      a.ksub == b.ksub && a.centroids == b.centroids &&
      a.codebooks.length == b.codebooks.length &&
      a.codebooks.zip(b.codebooks).forall { case (x, y) => x.toSeq == y.toSeq }

  private def indexRows(df: org.apache.spark.sql.DataFrame) = df
    .select($"vec_id", $"list_id", concat_ws(",", $"codes").as("c"))
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    .sortBy(_._1).toSeq

  test("log-backed serve == direct from-index serve, row for row") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb, model)
    val served = AnnIndexLog
      .serveIvfKnn(spark, dir, emb, queryId = 0L, k = 20, nProbe = 3)
      .collect().toSeq
    val direct = AnnOps.ivfKnnFromIndex(spark, emb,
        AnnOps.annIndex(spark, emb, model), model,
        queryId = 0L, k = 20, nProbe = 3)
      .collect().toSeq
    assert(served == direct)
  }

  test("serve-during-rebalance: a resolved snapshot is immune to a " +
      "concurrent rebalance commit; the next resolve sees the new pair") {
    // History excludes a tenth of the corpus; the fresh model is fit on
    // history only, then the held-out tenth upserts under the FROZEN
    // model — the drift a rebalance exists to repair.
    val hist = emb.filter($"vec_id" % 10 =!= 0)
    val churn = emb.filter($"vec_id" % 10 === 0)
    val model = AnnOps.fitAnnModel(spark, hist)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb = hist, model = model)
    AnnIndexLog.upsert(spark, dir, churn)

    // The serve resolves ONCE (the isolation contract) …
    val r1 = AnnIndexLog.resolve(spark, dir)
    val before = AnnIndexLog
      .serveIvfKnnResolved(spark, dir, emb, r1, queryId = 0L, k = 20)
      .collect().toSeq
    val postingsBefore = indexRows(AnnIndexLog.postings(spark, dir, r1))

    // … then a rebalance commits new postings files + a refined model.
    val (seq3, refined) = AnnIndexLog.rebalance(spark, dir, emb)
    assert(seq3 == r1.seq + 1)

    // Re-executing against the RESOLVED snapshot reads the exact same
    // rows and serves the exact same result — nothing the rebalance
    // wrote is visible through r1.
    assert(indexRows(AnnIndexLog.postings(spark, dir, r1))
      == postingsBefore, "resolved snapshot postings changed under rebalance")
    val after = AnnIndexLog
      .serveIvfKnnResolved(spark, dir, emb, r1, queryId = 0L, k = 20)
      .collect().toSeq
    assert(after == before, "resolved serve changed under rebalance")

    // Time travel to the pre-rebalance seq resolves the OLD model bytes
    // and the OLD postings version.
    val rOld = AnnIndexLog.resolve(spark, dir, asOfSeq = Some(r1.seq))
    assert(rOld.postingsVersion == r1.postingsVersion)
    assert(modelEq(rOld.model, r1.model))

    // A fresh resolve rides the refined pair, and its postings content
    // is row-identical to a fresh build under the refined model (the
    // threshold-0 rebalance equivalence).
    val r2 = AnnIndexLog.resolve(spark, dir)
    assert(r2.seq == seq3)
    assert(modelEq(r2.model, refined))
    assert(indexRows(AnnIndexLog.postings(spark, dir, r2))
      == indexRows(AnnOps.annIndex(spark, emb, refined)))
  }

  test("upsert publishes atomically and equals a same-model rebuild") {
    val hist = emb.filter($"vec_id" % 10 =!= 0)
    val batch = emb.filter($"vec_id" % 10 === 0)
    val model = AnnOps.fitAnnModel(spark, hist)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, hist, model)
    val r1 = AnnIndexLog.resolve(spark, dir)
    AnnIndexLog.upsert(spark, dir, batch)
    // The pre-upsert snapshot still reads only history.
    assert(AnnIndexLog.postings(spark, dir, r1).count() == hist.count())
    val r2 = AnnIndexLog.resolve(spark, dir)
    assert(modelEq(r2.model, model), "upsert must not change the model")
    assert(indexRows(AnnIndexLog.postings(spark, dir, r2))
      == indexRows(AnnOps.annIndex(spark, emb, model)))
  }

  test("delete rewrites only stats-overlapping files and masks the " +
      "tombstoned rows from the next snapshot") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb, model)
    val r1 = AnnIndexLog.resolve(spark, dir)
    val tombs = emb.select($"vec_id").filter($"vec_id" % 7 === 0)
    val nTombs = tombs.count()
    AnnIndexLog.delete(spark, dir, tombs)
    val r2 = AnnIndexLog.resolve(spark, dir)
    val post2 = AnnIndexLog.postings(spark, dir, r2)
    assert(post2.count() == emb.count() - nTombs)
    assert(post2.filter($"vec_id" % 7 === 0).count() == 0)
    // The pre-delete snapshot still serves the full corpus.
    assert(AnnIndexLog.postings(spark, dir, r1).count() == emb.count())
  }

  test("mutators refuse an orphaned postings commit (crashed mutation)") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb, model)
    // Simulate a crash AFTER a postings append but BEFORE its manifest
    // row: commit straight to the postings log.
    TxLog.append(spark, s"$dir/postings",
      AnnOps.annIndex(spark, emb.filter($"vec_id" === 0L), model))
    val e = intercept[IllegalArgumentException] {
      AnnIndexLog.upsert(spark, dir, emb.filter($"vec_id" === 1L))
    }
    assert(e.getMessage.contains("orphan"))
    // Serves keep working — the orphan is invisible through the manifest.
    val served = AnnIndexLog
      .serveIvfKnn(spark, dir, emb, queryId = 0L, k = 5)
    assert(served.count() == 5)
  }

  test("model blob round-trips bit-exactly") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb, model)
    val r = AnnIndexLog.resolve(spark, dir)
    assert(r.model.nLists == model.nLists)
    assert(r.model.centroids == model.centroids)
    assert(r.model.m == model.m && r.model.dsub == model.dsub &&
      r.model.ksub == model.ksub)
    assert(r.model.codebooks.length == model.codebooks.length)
    r.model.codebooks.zip(model.codebooks).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
  }

  test("delete lifecycle: masked serve == serve of the post-delete " +
      "snapshot == survivor rebuild; deleted ids never returned") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb, model)
    val r1 = AnnIndexLog.resolve(spark, dir)
    val tombs = emb.select($"vec_id").filter($"vec_id" % 3 === 1)
    val deleted = tombs.collect().map(_.getLong(0)).toSet
    // One explicit pool shared by all three serves (the masked path pins
    // its default to the UNMASKED index estimate for exactly this reason;
    // an explicit value removes the estimate from the equivalence).
    val pool = 200
    val masked = AnnOps.ivfPqKnnFromIndexMasked(spark, emb,
        AnnIndexLog.postings(spark, dir, r1), tombs, model,
        queryId = 0L, k = 20, nProbe = 3, nCandidates = pool)
      .collect().toSeq
    assert(masked.nonEmpty)
    assert(masked.forall(r => !deleted(r.getLong(0))),
      "a tombstoned vector must never be returned")
    AnnIndexLog.delete(spark, dir, tombs)
    val r2 = AnnIndexLog.resolve(spark, dir)
    val post2 = AnnIndexLog.postings(spark, dir, r2)
    assert(post2.join(tombs, Seq("vec_id")).count() == 0,
      "delete must physically remove tombstoned rows")
    val deletedServe = AnnOps.ivfPqKnnFromIndex(spark, emb, post2,
        r2.model, queryId = 0L, k = 20, nProbe = 3, nCandidates = pool)
      .collect().toSeq
    assert(masked == deletedServe,
      "masked serve must equal the serve of the post-delete snapshot")
    // Post-delete content == fresh build over survivors, same model.
    val rebuilt = AnnOps.annIndex(spark,
      emb.filter($"vec_id" % 3 =!= 1), model)
    assert(indexRows(post2) == indexRows(rebuilt),
      "post-delete postings must be row-identical to a survivor rebuild")
    val rebuiltServe = AnnOps.ivfPqKnnFromIndex(spark, emb, rebuilt, model,
        queryId = 0L, k = 20, nProbe = 3, nCandidates = pool)
      .collect().toSeq
    assert(deletedServe == rebuiltServe)
    // Declared key: same shape, no deleted id, deterministic.
    val a = AnnOps.annDeleteIvf.fn(spark, sfDir).collect().toSeq
    val b = AnnOps.annDeleteIvf.fn(spark, sfDir).collect().toSeq
    assert(a == b && a.nonEmpty)
    assert(a.forall(r => r.getLong(0) % 3 != 1))
  }

  test("deleting a whole list leaves no rows in it; the new snapshot " +
      "keeps every file that does not stats-overlap that list") {
    val model = AnnOps.fitAnnModel(spark, emb)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, emb, model)
    val r1 = AnnIndexLog.resolve(spark, dir)
    val post1 = AnnIndexLog.postings(spark, dir, r1)
    val victim = post1.groupBy("list_id").count()
      .orderBy($"count", $"list_id").head.getInt(0)
    // Materialized: a real delete queue is its own table, not a lazy
    // plan over the postings it deletes from.
    val tombs = post1.filter($"list_id" === victim).select("vec_id")
      .as[Long].collect().toSeq.toDF("vec_id")
    def files(r: AnnIndexLog.Resolved) =
      TxLog.state(s"$dir/postings", Some(r.postingsVersion))
    val (before, meta) = files(r1)
    val overlapping = TxLog.overlapping(before, meta,
      victim.toString, victim.toString).map(_.path).toSet
    val kept = before.filterNot(f => overlapping(f.path))
    assert(kept.nonEmpty && overlapping.nonEmpty,
      s"fixture must split the postings into several files: $before")
    def stamp(path: String) = {
      val f = new java.io.File(path)
      (f.length(), f.lastModified())
    }
    val keptStamps = kept.map(f => f.path -> stamp(f.path)).toMap
    AnnIndexLog.delete(spark, dir, tombs)
    val r2 = AnnIndexLog.resolve(spark, dir)
    val post2 = AnnIndexLog.postings(spark, dir, r2)
    assert(post2.filter($"list_id" === victim).count() == 0,
      "a fully deleted list must leave no rows")
    val after = files(r2)._1.map(_.path).toSet
    assert(kept.map(_.path).toSet.subsetOf(after),
      "every file not overlapping the victim list must stay in the snapshot")
    assert(kept.forall(f => stamp(f.path) == keptStamps(f.path)),
      "kept files must not be rewritten")
    assert(overlapping.intersect(after).isEmpty,
      "files overlapping the victim list must be replaced")
    // Remaining content == survivor rebuild under the same model.
    val survivors = emb.join(tombs, Seq("vec_id"), "left_anti")
    assert(indexRows(post2) ==
      indexRows(AnnOps.annIndex(spark, survivors, model)))
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
      "rebalanced snapshot == fresh assignment under the refined model") {
    val initial = (0 until 200).map(i => (i.toLong, driftVec(i % 2, i)))
      .toDF("vec_id", "embedding")
    val churn = (0 until 200).map(i => ((1000 + i).toLong, driftVec(2, i)))
      .toDF("vec_id", "embedding")
    val full = initial.unionByName(churn)
    val model = AnnOps.fitAnnModel(spark, initial, nLists = 4,
      m = 2, dsub = 8, ksub = 16)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, initial, model)
    AnnIndexLog.upsert(spark, dir, churn)
    val qids = Seq(1000L, 1037L, 1101L, 1150L, 1199L)
    def exactTop(qid: Long): Set[Long] = full
      .filter($"vec_id" =!= qid)
      .crossJoin(broadcast(full.filter($"vec_id" === qid)
        .select($"embedding".as("qe"))))
      .select($"vec_id",
        round(call_function("cosine_sim", $"embedding", $"qe"), 6).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    def recallAt(index: org.apache.spark.sql.DataFrame,
        m: AnnOps.AnnModel): Double =
      qids.map { qid =>
        val got = AnnOps.ivfPqKnnFromIndex(spark, full, index, m,
          qid, k = 10, nProbe = 1).collect().map(_.getLong(0)).toSet
        val want = exactTop(qid)
        got.intersect(want).size.toDouble / want.size
      }.sum / qids.size
    def recallOf(r: AnnIndexLog.Resolved): Double =
      recallAt(AnnIndexLog.postings(spark, dir, r), r.model)
    val stale = AnnIndexLog.resolve(spark, dir)
    val recallStale = recallOf(stale)
    val (_, refined) = AnnIndexLog.rebalance(spark, dir, full, lloydIters = 5)
    val rebalanced = AnnIndexLog.resolve(spark, dir)
    assert(rebalanced.postingsVersion > stale.postingsVersion,
      "boundary churn must drift some list")
    val recallRebalanced = recallOf(rebalanced)
    // Fresh-build baseline: a from-scratch model on the full corpus.
    val fresh = AnnOps.fitAnnModel(spark, full, nLists = 4,
      m = 2, dsub = 8, ksub = 16)
    val recallFresh = recallAt(AnnOps.annIndex(spark, full, fresh), fresh)
    info(s"recall stale=$recallStale rebalanced=$recallRebalanced fresh=$recallFresh")
    assert(recallRebalanced > recallStale,
      s"rebalance must improve the degraded serve: " +
        s"stale=$recallStale rebalanced=$recallRebalanced")
    assert(recallRebalanced >= recallFresh - 0.1,
      s"rebalanced recall must reach fresh-build level: " +
        s"rebalanced=$recallRebalanced fresh=$recallFresh")
    // Content law (threshold 0): rebalanced postings == fresh assignment
    // of the full corpus under the REFINED model (codes frozen).
    assert(indexRows(AnnIndexLog.postings(spark, dir, rebalanced)) ==
      indexRows(AnnOps.annIndex(spark, full, refined)))
  }

  test("rebalance is threshold-gated: an above-threshold gate on a " +
      "stable corpus commits no postings and keeps the centroid ids") {
    val stable = (0 until 200).map(i => (i.toLong, driftVec(i % 2, i)))
      .toDF("vec_id", "embedding")
    val model = AnnOps.fitAnnModel(spark, stable, nLists = 4,
      m = 2, dsub = 8, ksub = 16)
    val dir = freshDir()
    AnnIndexLog.build(spark, dir, stable, model)
    val r1 = AnnIndexLog.resolve(spark, dir)
    // A 90 % drift gate on an already-converged corpus: Lloyd refinement
    // barely moves the centroids, no list crosses the gate, nothing is
    // rewritten — the cheap periodic-maintenance invocation.
    val (seq, newModel) = AnnIndexLog.rebalance(spark, dir, stable,
      lloydIters = 2, driftThreshold = 0.9)
    val r2 = AnnIndexLog.resolve(spark, dir)
    assert(seq == r1.seq + 1 && r2.seq == seq)
    assert(r2.postingsVersion == r1.postingsVersion &&
      TxLog.latestVersion(s"$dir/postings") == r1.postingsVersion,
      "a gated no-op must not commit postings")
    assert(newModel.centroids.map(_._1) == model.centroids.map(_._1),
      "refinement must preserve centroid ids")
  }
}
