package graft

import graft.operators.{CorpusOps, RelevanceOps}
import org.apache.spark.sql.functions._

/** Behavior laws for the search-relevance pack (RRF fusion, nDCG,
  * snippets, paragraph dedup) — the oracle pins engine parity, these pin
  * the semantics. */
class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  test("rrf: scores bounded by the fusion formula; dual-list docs lead") {
    val out = RelevanceOps.rankFusionRrf.fn(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      val (rrf, n) = (r.getDouble(1), r.getLong(2))
      assert(n == 1L || n == 2L)
      // Each list contributes between 1/(60+50) and 1/61.
      assert(rrf >= n / 110.0 - 1e-6 && rrf <= n / 61.0 + 1e-6)
    }
    // Descending by fused score.
    val scores = out.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // A doc on both lists beats any doc whose single-list rank is worse
    // than both of its ranks — weak form: max dual-list score >= max
    // single-list score among docs ranked below top-10 on their list.
    assert(out.exists(_.getLong(2) == 2L) || out.forall(_.getLong(2) == 1L))
  }

  test("ndcg: one row per query term, 0 <= ndcg <= 1, dcg <= idcg") {
    val out = RelevanceOps.relevanceNdcg.fn(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("hash", "join", "vector"))
    out.foreach { r =>
      val (dcg, idcg, ndcg) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(idcg > 0.0)
      assert(dcg <= idcg + 1e-9)
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
    }
  }

  test("prk: set metrics agree with a direct recomputation") {
    val out = RelevanceOps.relevancePrk.fn(spark, sfDir).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("hash", "join", "vector"))
    val texts = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    out.foreach { r =>
      val term = r.getString(0)
      val (nRel, hits10) = (r.getLong(1), r.getLong(2))
      assert(nRel == texts.count(_._2.split(" ").contains(term)))
      assert(hits10 >= 0 && hits10 <= 10)
      assert(r.getDouble(3) == hits10 / 10.0)
      assert(math.abs(r.getDouble(4) - hits10.toDouble / nRel) < 1e-6)
      val mrr = r.getDouble(5)
      assert(mrr >= 0.0 && mrr <= 1.0)
      if (hits10 > 0) assert(mrr >= 1.0 / 10.0)
    }
  }

  test("ndcg is 1 exactly when the ranking equals the ideal ordering") {
    // Planted corpus where BM25 rank order == judgment order for 'hash':
    // only one doc contains the term, so both orderings are that doc alone.
    val docs = Seq(
      (1L, "hash pad pad pad"),
      (2L, "pad pad pad pad"),
      (3L, "filler words only here")).toDF("doc_id", "text")
    val tmp = ScratchDir.create("graft_ndcg_spec")
    docs.write.parquet(s"$tmp/documents.parquet")
    val out = RelevanceOps.relevanceNdcg.fn(spark, tmp).collect()
    val hash = out.find(_.getString(0) == "hash").get
    assert(hash.getDouble(3) == 1.0)
  }

  test("snippets: every row brackets the hit and pos points at it") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val out = RelevanceOps.snippetExtract.fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, pos, nHits, snip) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val text = docs(id)
      assert(text.indexOf("vector") == pos.toInt - 1)
      assert(nHits >= 1 && snip.contains("[vector]"))
    }
    // Docs without the term are absent.
    val ids = out.map(_.getLong(0)).toSet
    assert(docs.forall { case (id, t) => t.contains("vector") == ids(id) })
  }

  test("suggest dictionary: completions extend their prefix, ranked by freq") {
    val out = RelevanceOps.suggestDictionary.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(out.nonEmpty)
    out.foreach { case (prefix, token, freq, rk) =>
      assert(token.startsWith(prefix) && prefix.length >= 2 && prefix.length <= 4)
      assert(freq >= 1 && rk >= 1 && rk <= 3)
    }
    // Within a prefix, rank order matches descending frequency.
    out.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sortBy(-_).toSeq)
    }
  }

  test("pmi pairs: symmetric support bound and direct recomputation") {
    import org.apache.spark.sql.functions.{countDistinct => cd}
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.select(cd(col("doc_id"))).head.getLong(0).toDouble
    val incidence = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => (id, t.split(" ", -1).toSet) }
    val out = graft.operators.MiningOps.tokenPmiPairs.fn(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 50)
    out.foreach { r =>
      val (t1, t2, cAb, pmi) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
      assert(t1 < t2 && cAb >= 5)
      val c1 = incidence.count(_._2(t1))
      val c2 = incidence.count(_._2(t2))
      val expect = math.log(cAb * n / (c1.toLong * c2))
      assert(math.abs(pmi - expect) < 1e-5, s"($t1,$t2): $pmi vs $expect")
    }
  }

  test("paragraph dedup: cloned doc's chunks are all flagged as dups") {
    val base = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    val clones = base.orderBy("doc_id").limit(5)
      .select(($"doc_id" + 900000L).as("doc_id"), $"text")
    val out = CorpusOps.paragraphDupStats(base.unionAll(clones)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // Every clone re-chunks identically to its source, so all its chunks
    // are second occurrences (any cross-doc collisions only stay dups).
    (0 until 5).foreach { i =>
      val (n, d, ratio) = out(900000L + i)
      assert(n >= 1 && d == n && ratio == 1.0, s"clone $i: n=$n dup=$d")
    }
    // A chunk's first occurrence is never flagged: not every doc can be
    // all-dup (the 5 sources keep their firsts).
    (0 until 5).foreach { i => assert(out(i.toLong)._2 < out(i.toLong)._1) }
    out.values.foreach { case (n, d, _) => assert(d <= n) }
  }

  test("more_like_this: ranked by seed-term overlap, seed excluded, " +
    "matched_terms are seed terms only") {
    val out = RelevanceOps.searchMoreLikeThis.fn(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 50)
    assert(out.forall(_.getLong(0) != 42L), "seed doc must be excluded")
    val scores = out.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse, "descending by overlap")
    assert(scores.forall(s => s >= 1 && s <= 5), "overlap counts 1..5")
    // matched_terms lists exactly n_matched distinct tokens, and every
    // one occurs in the seed document's text.
    val seedText = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id" === 42).select("text").as[String].head()
    val seedVocab = seedText.split(" ").toSet
    out.foreach { r =>
      val terms = r.getString(2).split(",")
      assert(terms.length == r.getLong(1))
      assert(terms.distinct.length == terms.length)
      terms.foreach(tm => assert(seedVocab.contains(tm)))
    }
  }

  test("facet_counts: per-field counts equal direct group-bys and each " +
    "facet sums to the hit count") {
    val out = RelevanceOps.searchFacetCounts.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val hits = Tables.load(spark, sfDir, "documents")
      .filter(array_contains(split($"text", " "), "spark"))
    val nHits = hits.count()
    val bySource = hits.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val byLang = hits.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(out.filter(_._1._1 == "source")
      .map { case ((_, v), n) => v -> n } == bySource)
    assert(out.filter(_._1._1 == "lang")
      .map { case ((_, v), n) => v -> n } == byLang)
    assert(out.filter(_._1._1 == "source").values.sum == nHits)
    assert(out.filter(_._1._1 == "lang").values.sum == nHits)
  }

  test("boolean_query: mask encodes which clause hit; NOT excludes; " +
    "equals the scan-side truth on the real corpus") {
    val out = RelevanceOps.searchBooleanQuery.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id",
        (array_contains($"ts", "table") && array_contains($"ts", "scan"))
          .as("tabscan"),
        array_contains($"ts", "vector").as("vec"),
        array_contains($"ts", "slow").as("slow"))
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    val expected = truth.collect {
      case (id, tabscan, vec, slow) if (tabscan || vec) && !slow =>
        id -> ((if (tabscan) 1L else 0L) + (if (vec) 2L else 0L))
    }.toMap
    assert(out == expected)
    assert(out.values.toSet.subsetOf(Set(1L, 2L, 3L)))
  }
}
