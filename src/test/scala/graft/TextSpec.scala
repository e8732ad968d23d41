package graft

import graft.operators.{TextCluster, TextOps}
import org.apache.spark.sql.functions.{count, explode, expr, lit, split}

/** Rolling-hash fingerprint laws (no SQL oracle — TextOps scaladoc). */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("ngramJaccardPairs reroutes to minhash LSH above the exact bound") {
    val docs = Tables.load(spark, sfDir, "documents")
    // Bound below the corpus size → the exact O(n²) theta join must NOT
    // run; the operator reroutes to the banded MinHash-LSH pipeline.
    val rerouted = TextOps.ngramJaccardPairs(docs, 0.4, maxExactRows = 5)
    val minhashDirect = graft.operators.VectorOps
      .minhashPairs(docs, numHashes = 32, bands = 8, jaccardThreshold = 0.4)
    assert(rerouted.collect().toSeq == minhashDirect.collect().toSeq,
      "above the bound the operator must equal the minhash pipeline")
    // Candidates carry exact Jaccard, so the rerouted set is a SUBSET of
    // the exact pairs (recall loss only, never false positives).
    val exact = TextOps.ngramJaccardPairs(docs, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rer = rerouted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rer.subsetOf(exact),
      "rerouted pairs must be a verified subset of the exact pairs")
  }

  test("vocabJoin drops the broadcast hint above the vocab bound, same result") {
    val docs = Tables.load(spark, sfDir, "documents")
    val tok = docs.select($"doc_id",
      explode(split($"text", " ")).as("token"))
    val tf = tok.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed.toString.contains("UnresolvedHint") ||
        d.queryExecution.analyzed.toString.contains("ResolvedHint")
    val guarded = TextOps.vocabJoin(tf, df, "token", maxBroadcastBytes = 1)
    assert(!hinted(guarded),
      "above the bound the explicit broadcast hint must be dropped")
    val bcast = TextOps.vocabJoin(tf, df, "token")
    assert(hinted(bcast), "within the bound the vocab side is broadcast")
    assert(guarded.orderBy("doc_id", "token").collect().toSeq ==
      bcast.orderBy("doc_id", "token").collect().toSeq,
      "join strategy must not change the result")
  }

  test("bpe apply: greedy longest-match with single-char fallback") {
    val docs = Seq((0L, "helloworld xyz"), (1L, "hello")).toDF("doc_id", "text")
    val vocab = Array("hello", "wor", "ld")
    val out = TextOps.bpeApply(docs, vocab).orderBy("doc_id").collect()
    // "helloworld" -> hello|wor|ld (longest match first), "xyz" -> x|y|z
    assert(out(0).getLong(1) == 6L, out(0).toString)
    assert(out(0).getString(2) == "hello wor ld x y z")
    assert(out(1).getLong(1) == 1L && out(1).getString(2) == "hello")
  }

  test("bpe vocab: planted frequent subword is learned; apply is deterministic") {
    val docs = (0L until 20L).map(i => (i, "foofoofoo bar"))
      .toDF("doc_id", "text")
    val vocab = TextOps.bpeFitVocab(docs, vocabSize = 50)
    assert(vocab.contains("foo"), s"planted 'foo' missing from ${vocab.take(10).toSeq}")
    val a = TextOps.bpeApply(docs, vocab).orderBy("doc_id").collect().toSeq
    val b = TextOps.bpeApply(docs.repartition(7), vocab)
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "bpe apply must be deterministic across partitionings")
  }

  test("rolling hash: deterministic, content-sensitive, matches reference fold") {
    val docs = Seq((0L, "abc"), (1L, "abd"), (2L, "abc")).toDF("doc_id", "text")
    val out = TextOps.rollingHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(s: String): Long =
      s.foldLeft(0L)((h, c) => Math.floorMod(h * 31L + c.toLong, 2147483647L))
    assert(out(0L) == ref("abc"))
    assert(out(0L) == out(2L), "same content, same hash")
    assert(out(0L) != out(1L), "different content, different hash")
  }

  test("rolling_hash31 matches the HOF fold spelling bit-for-bit on the corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    // The interpreted per-character fold the native expression replaced.
    val hof = docs.select($"doc_id", expr(
      """aggregate(split(text, ''), 0L,
        |  (h, c) -> pmod(h * 31L + ascii(c), 2147483647L))""".stripMargin)
      .as("ref"))
    val native = TextOps.rollingHash(docs)
    assert(native.join(hof, "doc_id")
      .filter($"rolling_hash" =!= $"ref").count() == 0)
    // Edge: empty and non-ASCII strings agree too.
    val edge = Seq((0L, ""), (1L, "héllo wörld"), (2L, "a"))
      .toDF("doc_id", "text")
    val eHof = edge.select($"doc_id", expr(
      """aggregate(split(text, ''), 0L,
        |  (h, c) -> pmod(h * 31L + ascii(c), 2147483647L))""".stripMargin)
      .as("ref"))
    assert(TextOps.rollingHash(edge).join(eHof, "doc_id")
      .filter($"rolling_hash" =!= $"ref").count() == 0)
  }

  test("rolling hash on the corpus has no spurious collisions at sf0.001") {
    val docs = Tables.load(spark, sfDir, "documents")
    val hashes = TextOps.rollingHash(docs).collect().map(_.getLong(1))
    // 500 distinct texts (verified corpus property) -> 500 distinct hashes
    // with overwhelming probability for a 31-bit hash.
    assert(hashes.distinct.length == hashes.length)
  }

  test("connected components: chained dup pairs collapse to one cluster") {
    import spark.implicits._
    // Chain 1~2, 2~3 (1 and 3 NOT directly paired) + isolated 4, 5: a
    // pairwise dedup keeps 3 of {1,2,3}; clustering must keep exactly one.
    val verts = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val cc = TextCluster.connectedComponents(verts, pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(cc.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true)))
  }

  test("connected components: unconverged cap throws instead of partial labels") {
    import spark.implicits._
    // A 6-node chain has diameter 5: min-label propagation needs 5 rounds.
    // With the cap at 2 the labels are still moving — the operator must
    // fail loudly, never return silently-wrong cluster ids (ADVICE r2).
    val verts = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ex = intercept[IllegalStateException] {
      TextCluster.connectedComponents(verts, pairs, maxIter = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // And with an adequate cap the same chain converges to one cluster.
    val ok = TextCluster.connectedComponents(verts, pairs, maxIter = 10)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ok.toSeq == (1L to 6L).map(i => (i, 1L)))
  }

  test("fuzzy edit-1 join: rep-collapsed plan == brute-force levenshtein") {
    // Planted corpus mixing the interesting cases: exact clones (dist 0),
    // substitution / deletion / insertion at distance 1, and a dist-2
    // pair that shares deletion keys ("ab"/"ba") but must be rejected by
    // the exact verify.
    val rows = Seq(
      1L -> "martin", 2L -> "martin", 3L -> "martin", // clone group
      4L -> "martln",                                 // substitution
      5L -> "marti",                                  // deletion
      6L -> "martine",                                // insertion
      7L -> "ab", 8L -> "ba",                         // dist 2, shared keys
      9L -> "zzzz")                                   // loner
    val df = rows.toDF("id", "name")
    val got = TextCluster.editDistance1Pairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // Brute force in-test oracle.
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, na) <- rows; (ib, nb) <- rows
      if ia < ib && lev(na, nb) <= 1
    } yield (ia, ib, lev(na, nb).toLong)).sortBy(p => (p._1, p._2))
    assert(got == want)
    assert(got.contains((1L, 2L, 0L)) && got.contains((1L, 4L, 1L)))
    assert(!got.exists(p => Set(p._1, p._2) == Set(7L, 8L)))
  }

  test("fuzzy edit-1 join: 2k-clone degenerate corpus stays complete and cheap") {
    // 2 000 copies of one name: the r12 form pushed g²·(len+1) ≈ 28 M
    // pre-distinct rows through one band key; the rep-collapsed plan
    // bands ONE distinct name and enumerates the (g choose 2) dist-0
    // output — which IS the answer — through the name equi-join.
    val clones = (0L until 2000L).map(i => (i, "duplicate name"))
    val df = (clones :+ (9999L -> "duplicate nam3")).toDF("id", "name")
    val out = TextCluster.editDistance1Pairs(df)
    import org.apache.spark.sql.functions.{col, countDistinct}
    val n = out.count()
    assert(n == 2000L * 1999L / 2 + 2000L) // clique + each-vs-typo
    assert(out.filter(col("dist") === 1).count() == 2000L)
  }

  test("exact_dedup: md5-half rendering is bit-identical to md5, plan is a hash aggregate") {
    import org.apache.spark.sql.functions._
    graft.operators.VectorOps.registerFns(spark)
    // (a) lpad(lower(hex(hi)),16) || lpad(lower(hex(lo)),16) ≡ md5(text)
    // on the corpus + edge shapes (empty string, non-ascii, long text).
    val edge = Seq("", "a", "ünïcødé ☃ text", "x" * 10000).toDF("text")
    val texts = Tables.load(spark, sfDir, "documents").select("text")
      .unionAll(edge)
    val mismatch = texts.select(
        md5(col("text")).as("ref"),
        concat(lpad(lower(hex(call_function("fast_md5_hi", col("text")))), 16, "0"),
          lpad(lower(hex(call_function("fast_md5_lo", col("text")))), 16, "0"))
          .as("halves"))
      .filter(col("ref") =!= col("halves")).count()
    assert(mismatch == 0, "md5-half rendering must equal md5(text) on every row")
    // (b) the declared key's output is unchanged vs a direct md5 grouping.
    val declared = TextOps.dedupExact.fn(spark, sfDir).collect().toSeq
    val ref = Tables.load(spark, sfDir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
      .orderBy("survivor_id").collect().toSeq
    assert(declared == ref, "dedup_exact output must match the md5-group reference")
    // (c) the long-valued first() buffers keep the HASH aggregate — the
    // round-17 point of the change: a string buffer fell back to
    // SortAggregate with a full per-partition sort on both exchange sides.
    val plan = TextOps.dedupExact.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected HashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"unexpected SortAggregate in:\n$plan")
  }

  test("fast_md5 half memo never serves a stale digest (round-18 single-pass halves)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.FastMd5
    def refHex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def halvesHex(s: String): String = {
      // Fresh objects per call — the content-compare path.
      val hi = FastMd5.hashHalf(UTF8String.fromString(s), hi = true)
      val lo = FastMd5.hashHalf(UTF8String.fromString(s), hi = false)
      f"$hi%016x$lo%016x"
    }
    // Sequences of distinct + repeated contents through one thread's memo.
    Seq("", "a", "b", "a", "ünïcødé ☃ text", "x" * 10000, "x" * 10000 + "y")
      .foreach(t => assert(halvesHex(t) == refHex(t), s"text=$t"))
    // Interleaved contents: the hi of B between A's hi and lo must not
    // corrupt either digest.
    val a = UTF8String.fromString("alpha")
    val b = UTF8String.fromString("beta")
    val hiA = FastMd5.hashHalf(a, hi = true)
    val hiB = FastMd5.hashHalf(b, hi = true)
    val loA = FastMd5.hashHalf(a, hi = false)
    val loB = FastMd5.hashHalf(b, hi = false)
    assert(f"$hiA%016x$loA%016x" == refHex("alpha"))
    assert(f"$hiB%016x$loB%016x" == refHex("beta"))
    // A row buffer rewritten between rows: the memo keeps a PRIVATE copy,
    // so a new object over the mutated buffer must re-digest, never
    // content-hit against bytes that changed after the cached digest.
    val buf = "hello world".getBytes("UTF-8")
    FastMd5.hashHalf(UTF8String.fromBytes(buf), hi = true)
    buf(0) = 'j'.toByte
    val mutated = FastMd5.hashHalf(UTF8String.fromBytes(buf), hi = true)
    assert(f"$mutated%016x" == refHex("jello world").take(16))
    // The SAME object over a buffer rewritten between its hi and lo
    // halves: the lo half must digest the new bytes.
    val buf2 = "hello there".getBytes("UTF-8")
    val same = UTF8String.fromBytes(buf2)
    FastMd5.hashHalf(same, hi = true)
    buf2(0) = 'j'.toByte
    val lo = FastMd5.hashHalf(same, hi = false)
    assert(f"$lo%016x" == refHex("jello there").drop(16))
  }

  test("stratified sample predicate is reproducible across partitionings") {
    val docs = Tables.load(spark, sfDir, "documents")
    val pred = org.apache.spark.sql.functions.substring(
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("doc_id").cast("string")), 1, 2) < "10"
    val a = docs.filter(pred).select("doc_id").collect().map(_.getLong(0)).sorted
    val b = docs.repartition(7).filter(pred).select("doc_id").collect()
      .map(_.getLong(0)).sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }
}
