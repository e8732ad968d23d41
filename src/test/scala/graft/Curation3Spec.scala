package graft

import graft.operators.{CurationOps3, VectorOps}
import org.apache.spark.sql.functions._

/** Fifth-wave operators (round 5): inverted index + phrase query, chunk
  * scrub, Gopher filter, incremental minhash dedup. The oracled value
  * properties are the driver's; these pin the semantic properties the
  * oracle can't express (adjacency vs co-occurrence, block invariants,
  * cross-set candidate discipline).
  */
class Curation3Spec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("invertedIndex: per-block df/tf roll up to direct global counts, " +
    "postings are doc-id-ordered, blocks respect the doc-id range") {
    val docs = Tables.load(spark, sfDir, "documents")
    val idx = CurationOps3.invertedIndex(docs).collect()
    // Global df per token == direct distinct-doc count.
    val direct = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val rolled = idx.groupBy(_.getString(0)).view.mapValues { rows =>
      (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    }.toMap
    assert(rolled == direct)
    idx.foreach { r =>
      val (block, ids) = (r.getLong(1), r.getString(4).split(",").map(_.toLong))
      assert(ids.sorted.sameElements(ids), "postings must be sorted")
      assert(ids.forall(id => id / 4096 == block), "block = doc_id range")
      assert(ids.length == r.getLong(2), "df_block = postings length")
      assert(r.getString(5).split(",").length == ids.length,
        "tfs align with doc_ids")
    }
  }

  test("invertedIndex: blocks are mergeable — an id-disjoint batch appends " +
    "new blocks without touching existing ones") {
    val hist = docsDf(1L -> "x y x", 2L -> "y z")
    val batch = docsDf(5000L -> "x q")
    val both = CurationOps3.invertedIndex(hist.union(batch)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getString(4)))
      .toMap
    val histOnly = CurationOps3.invertedIndex(hist).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getString(4)))
      .toMap
    // Every historical block is byte-identical in the merged index.
    histOnly.foreach { case (k, v) => assert(both(k) == v) }
    // The batch landed exclusively in block 1 (5000 / 4096).
    assert(both.keySet.diff(histOnly.keySet).forall(_._2 == 1L))
  }

  test("phraseMatch: counts adjacent occurrences only, in order") {
    val docs = docsDf(
      1L -> "a table scan b",             // 1 occurrence
      2L -> "table a scan",               // co-occurrence, not adjacent
      3L -> "table scan table scan",      // 2 occurrences
      4L -> "scan table",                 // reversed
      5L -> "table scan")                 // 1 occurrence
    val out = CurationOps3.phraseMatch(docs, Seq("table", "scan"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 3L -> 2L, 5L -> 1L))
  }

  test("phraseMatch: 3-word phrase chains the position shift") {
    val docs = docsDf(
      1L -> "big table scan now",
      2L -> "big table x scan",
      3L -> "big table scan big table scan")
    val out = CurationOps3.phraseMatch(docs, Seq("big", "table", "scan"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 3L -> 2L))
  }

  test("phraseMatchFromIndex: parquet round-trip of the positional index " +
    "answers identically to the inline build") {
    val docs = Tables.load(spark, sfDir, "documents")
    val path = ScratchDir.create("graft_test_posidx")
    CurationOps3.positionalPostings(docs)
      .write.mode("overwrite").parquet(path)
    val stored = CurationOps3.phraseMatchFromIndex(
      spark.read.parquet(path), Seq("table", "scan"))
      .as[(Long, Long)].collect().toSeq
    val inline = CurationOps3.phraseMatch(docs, Seq("table", "scan"))
      .as[(Long, Long)].collect().toSeq
    assert(stored == inline && inline.nonEmpty)
  }

  test("chunkScrub: first occurrence survives, later copies are removed, " +
    "clean text reassembles surviving chunks in order") {
    val c1 = (1 to 20).map(i => s"w$i").mkString(" ")   // 20-token chunk
    val c2 = (21 to 40).map(i => s"v$i").mkString(" ")
    val docs = docsDf(
      1L -> s"$c1 $c2",     // both chunks first occurrence
      2L -> s"$c1 tail",    // chunk 1 duplicated, short tail unique
      3L -> c2)             // chunk 2 duplicated entirely
    val out = CurationOps3.chunkScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) == ((2L, 0L, s"$c1 $c2")))
    assert(out(2L) == ((2L, 1L, "tail")))
    assert(out(3L) == ((1L, 1L, "")))
  }

  test("chunkScrub: a corpus with no duplicate chunks is unchanged") {
    val docs = Tables.load(spark, sfDir, "documents")
      .limit(20).select("doc_id", "text")
    val distinctTexts = docs.dropDuplicates("text")
    val out = CurationOps3.chunkScrub(distinctTexts)
    // Unique docs here are long enough that chunks rarely collide; verify
    // the invariant n_chunks = n_removed + surviving chunk count via
    // reassembly length arithmetic instead of exact equality.
    out.collect().foreach { r =>
      val clean = r.getString(3)
      val kept = if (clean.isEmpty) 0 else 1 + clean.count(_ == ' ') / 1
      assert(r.getLong(1) >= r.getLong(2))
      if (r.getLong(2) == 0)
        assert(kept > 0, "undeduped doc must keep its text")
    }
  }

  test("gopherFilter: each rule fires alone on a planted doc and clean " +
    "docs keep") {
    val stopPad = "the value a"           // satisfies stopword + length mix
    def words(n: Int, w: String) = Seq.fill(n)(w).mkString(" ")
    val docs = docsDf(
      // 40 tokens, mean len 3.225 ∈ [3, 4.5], distinct, has stop: keeps.
      1L -> (((1 to 9).map(i => s"tok$i") ++ (10 to 37).map(i => s"w$i"))
        .mkString(" ") + " " + stopPad),
      // Too short: word_count fails (others pass given composition).
      2L -> ("alpha beta gamma " + stopPad),
      // 40 long tokens: mean_word_length fails high.
      3L -> (words(37, "elephantine") + " " + stopPad),
      // 40 copies of one token + stop pad: uniq_ratio fails.
      4L -> (words(37, "dup") + " " + stopPad),
      // No stop token (mean len in range as doc 1): no_stopword fails.
      5L -> ((1 to 9).map(i => s"tok$i") ++ (10 to 40).map(i => s"w$i"))
        .mkString(" "))
    val out = CurationOps3.gopherFilter(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(4), r.getLong(5))).toMap
    assert(out(1L) == (("", 1L)))
    assert(out(2L)._1.contains("word_count") && out(2L)._2 == 0L)
    assert(out(3L)._1.contains("mean_word_length"))
    assert(out(4L)._1.contains("uniq_ratio"))
    assert(out(5L)._1 == "no_stopword")
  }

  test("minhashIncrementalDups: planted batch clone of a historical doc " +
    "is dropped with the right dup_of; unique batch docs are keepers") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"u$i").mkString(" ")
    val hist = docsDf(11L -> base, 12L -> other)
    val batch = docsDf(
      20L -> base,                         // exact clone of hist 11
      21L -> (base + " extraword"),        // near-dup of hist 11
      22L -> (200 to 230).map(i => s"q$i").mkString(" "))  // unique
    val out = VectorOps.minhashIncrementalDups(
      VectorOps.minhashIndex(batch, 32), VectorOps.minhashIndex(hist, 32),
      numHashes = 32, bands = 8, jaccardThreshold = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.get(20L).contains(11L))
    assert(out.get(21L).contains(11L))
    assert(!out.contains(22L), "unique batch doc must be a keeper")
  }

  test("minhashIncrementalDups: equals the self-join pairs restricted to " +
    "cross (batch, hist) pairs on the real corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val isBatch = col("doc_id") % 10 === 0
    val incr = VectorOps.minhashIncrementalDups(
        VectorOps.minhashIndex(docs.filter(isBatch), 32),
        VectorOps.minhashIndex(docs.filter(!isBatch), 32),
        numHashes = 32, bands = 8, jaccardThreshold = 0.4)
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    val self = VectorOps.minhashPairs(docs, 32, 8, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val crossPairs = self.flatMap { case (a, b) =>
      val (aB, bB) = (a % 10 == 0, b % 10 == 0)
      if (aB && !bB) Some(a -> b)
      else if (bB && !aB) Some(b -> a)
      else None
    }
    val expected = crossPairs.groupBy(_._1).map { case (d, ps) =>
      d -> ps.map(_._2).min
    }.toSet
    assert(incr == expected)
  }
}
