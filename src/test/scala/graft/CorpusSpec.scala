package graft

import graft.operators.{CorpusOps, EventsOps}
import org.apache.spark.sql.functions._

/** Behavior laws for the corpus search/curation and event-analytics
  * operators (each also has a DuckDB oracle — these specs pin the
  * SEMANTICS on planted inputs where the oracle only pins engine parity). */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("bm25: more query-term occurrences rank higher; absent docs unscored") {
    val out = CorpusOps.bm25TopK.fn(spark, sfDir).collect()
    assert(out.length == 20)
    // Descending by score, tie-broken by doc_id.
    val scores = out.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // Every scored doc actually contains a query term.
    val ids = out.map(_.getLong(0)).toSet
    val texts = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id".isin(ids.toSeq: _*))
      .select($"text").as[String].collect()
    assert(texts.forall(t =>
      t.split(" ").exists(Set("hash", "join", "vector"))))
  }

  test("bm25 on planted corpus: term-stuffed doc outranks single-mention doc") {
    // Direct formula check on a 3-doc corpus via the same pipeline shape:
    // a doc mentioning 'hash' 5 times must outrank one mentioning it once
    // (equal lengths), and a doc without the term is absent.
    val docs = Seq(
      (1L, "hash hash hash hash hash pad pad pad"),
      (2L, "hash pad pad pad pad pad pad pad"),
      (3L, "pad pad pad pad pad pad pad pad")).toDF("doc_id", "text")
    val tmp = ScratchDir.create("graft_bm25_spec")
    docs.write.parquet(s"$tmp/documents.parquet")
    val out = CorpusOps.bm25TopK.fn(spark, tmp).collect()
    val byId = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.contains(1L) && byId.contains(2L) && !byId.contains(3L))
    assert(byId(1L) > byId(2L))
  }

  test("decontamination removes exactly the docs sharing an 8-gram with eval") {
    val docs = Tables.load(spark, sfDir, "documents")
    val survivors = CorpusOps.decontaminateNgram.fn(spark, sfDir)
      .as[Long].collect().toSet
    // Survivors are train docs (never eval docs).
    val evalIds = docs.filter(md5($"text").like("0%"))
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors.intersect(evalIds).isEmpty)
    // A planted exact duplicate of an eval doc must NOT survive: any train
    // doc whose text equals an eval doc's text shares all its 8-grams.
    val evalTexts = docs.filter(md5($"text").like("0%"))
      .select($"text").as[String].collect().toSet
    val dupTrainIds = docs
      .filter(!md5($"text").like("0%"))
      .filter($"text".isin(evalTexts.toSeq: _*))
      .filter(size(split($"text", " ")) >= 8)
      .select($"doc_id").as[Long].collect().toSet
    assert(dupTrainIds.intersect(survivors).isEmpty,
      "train docs textually identical to eval docs must be removed")
  }

  test("repetition: planted repetitive doc scores high, diverse doc low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val tmp = ScratchDir.create("graft_rep_spec")
    docs.write.parquet(s"$tmp/documents.parquet")
    val out = CorpusOps.textRepetition.fn(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 > 0.8, "all-identical bigrams => dup fraction ~ 6/7")
    assert(out(1L)._2 == 1.0, "single token dominates completely")
    assert(out(2L)._1 == 0.0 && out(2L)._2 == 0.125)
  }

  test("repetition degenerate docs yield NULL, not crash or Inf") {
    val docs = Seq((1L, ""), (2L, "solo")).toDF("doc_id", "text")
    val tmp = ScratchDir.create("graft_rep0_spec")
    docs.write.parquet(s"$tmp/documents.parquet")
    val out = CorpusOps.textRepetition.fn(spark, tmp).collect()
    assert(out.forall(_.isNullAt(1)), "0 bigrams => NULL dup fraction")
  }

  test("mixture stats: token shares partition the corpus (sum to 1)") {
    val rows = CorpusOps.mixtureStats.fn(spark, sfDir).collect()
    val share = rows.map(_.getDouble(4)).sum
    assert(math.abs(share - 1.0) < 1e-3, s"shares sum to $share")
    val totalDocs = rows.map(_.getLong(2)).sum
    assert(totalDocs == Tables.load(spark, sfDir, "documents").count())
  }

  test("int8 quantization error is bounded by half a step per element") {
    val out = CorpusOps.embeddingQuantize.fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val step = (r.getDouble(2) - r.getDouble(1)) / 255.0
      assert(r.getDouble(3) <= step / 2.0 + 1e-9,
        s"vec ${r.getLong(0)}: mean err ${r.getDouble(3)} > half-step ${step / 2}")
    }
  }

  test("zorder key: exact Morton values and quadrant ordering") {
    import graft.operators.LayoutOps
    val pts = Seq((0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (40000, 50000))
      .toDF("x", "y")
    val keys = pts.select($"x", $"y",
      LayoutOps.zkey($"x", $"y").as("z")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(keys((0, 0)) == 0L && keys((1, 0)) == 1L && keys((0, 1)) == 2L
      && keys((1, 1)) == 3L)
    // z(3,5) = interleave(x=011, y=101) = y2 x2 y1 x1 y0 x0 = 100111b = 39
    assert(keys((3, 5)) == 39L)
    // Reference interleave for a large pair.
    def ref(x: Int, y: Int): Long = (0 until 16).map { i =>
      (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
    }.reduce(_ | _)
    assert(keys((40000, 50000)) == ref(40000, 50000))
    // Quadrant law: every point in the low-low quadrant sorts before every
    // point in the high-high quadrant — the pruning property.
    val h = 1 << 15
    assert(ref(h - 1, h - 1) < ref(h, h))
  }

  test("funnel: stage order is enforced (click before first view ignored)") {
    // This synthetic events.parquet stores ts as raw INT64 nanoseconds —
    // the legacy layout Tables.loadEvents' sniff routes through eventsRaw.
    def ts(m: Int): Long =
      (java.time.LocalDateTime.of(2024, 1, 1, 0, m)
        .toEpochSecond(java.time.ZoneOffset.UTC)) * 1000000000L
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // user 2: click BEFORE any view -> counts as view-only
      (2L, ts(1), "click"), (2L, ts(2), "view"),
      // user 3: view then purchase with no click -> purchase must not count
      (3L, ts(1), "view"), (3L, ts(5), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val tmp = ScratchDir.create("graft_funnel_spec")
    ev.write.parquet(s"$tmp/events.parquet")
    val r = EventsOps.eventsFunnel.fn(spark, tmp).collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 1 && r.getLong(2) == 1)
  }

  test("retention: cohort day is first activity; offsets windowed to 0..7") {
    def d(day: Int, h: Int = 0): Long =
      (java.time.LocalDateTime.of(2024, 1, day, h, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC)) * 1000000000L
    val ev = Seq(
      (1L, d(1), "view"), (1L, d(2), "view"), (1L, d(2, 5), "click"),
      (1L, d(20), "view"), // outside the 0..7 window
      (2L, d(2), "view"))
      .toDF("user_id", "ts", "event_type")
    val tmp = ScratchDir.create("graft_ret_spec")
    ev.write.parquet(s"$tmp/events.parquet")
    val rows = EventsOps.eventsRetention.fn(spark, tmp).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      ("2024-01-01", 0, 1L), ("2024-01-01", 1, 1L), ("2024-01-02", 0, 1L)))
  }

  test("anomaly MAD: planted outlier flagged; spread-but-clean group is not") {
    val ev = (Seq.fill(20)(("a", 10.0)) ++ Seq(("a", 1000.0)) ++
      (1 to 9).map(i => ("b", i.toDouble)))
      .toDF("event_type", "value")
    val tmp = ScratchDir.create("graft_mad_spec")
    ev.write.parquet(s"$tmp/events.parquet")
    val out = EventsOps.eventsAnomalyMad.fn(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Group a: median 10, MAD 0 -> any deviation at all is an anomaly.
    assert(out("a") == ((21L, 1L)))
    // Group b: uniform 1..9, MAD 2 -> max deviation 4 << 4.4478*2.
    assert(out("b") == ((9L, 0L)))
  }

  test("sequence packing: offsets tile the concatenated stream exactly") {
    val out = CorpusOps.packSequences.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).values.foreach { rows =>
      val ordered = rows.sortBy(_._2)
      var before = 0L
      ordered.foreach { case (_, _, n, packId, off) =>
        assert(packId == before / 512 && off == before % 512,
          s"doc at cum=$before: pack=$packId off=$off")
        before += n
      }
      // Pack ids are monotone within the language stream.
      val packs = ordered.map(_._4)
      assert(packs.zip(packs.tail).forall { case (a, b) => a <= b })
    }
  }

  test("quality buckets: terciles per lang are balanced and ordered") {
    val out = graft.operators.MiningOps.corpusQualityBuckets.fn(spark, sfDir)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getInt(3)))
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._3).view.mapValues(_.size).toMap
      assert(sizes.keySet.subsetOf(Set(1, 2, 3)), s"$lang buckets: $sizes")
      if (rows.size >= 3) {
        assert(sizes.values.max - sizes.values.min <= 1, s"$lang: $sizes")
        // Head bucket is at least as fluent as the tail bucket.
        assert(rows.filter(_._3 == 1).map(_._2).min >=
          rows.filter(_._3 == 3).map(_._2).max, s"$lang ordering")
      }
    }
  }
}
