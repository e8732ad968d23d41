package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edge-case unit tests the null-free corpus cannot exercise (SURVEY §5.2):
  * null keys in joins/aggregates, empty inputs, tie-handling. */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("outer join produces nulls on the non-matching side") {
    val left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val right = Seq((1, 10.0)).toDF("id", "w")
    val out = left.join(right, Seq("id"), "left_outer").orderBy("id").collect()
    assert(out.length == 3)
    assert(out(0).getDouble(2) == 10.0)
    assert(out(1).isNullAt(2) && out(2).isNullAt(2))
  }

  test("null join keys never match (SQL semantics)") {
    val l = Seq(Some(1), None, Some(2)).toDF("k")
    val r = Seq(Some(1), None).toDF("k")
    assert(l.join(r, "k").count() == 1)
    // anti join keeps the null-keyed row (no match possible)
    assert(l.join(r, Seq("k"), "left_anti").count() == 2)
  }

  test("aggregates skip nulls; count(*) does not") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("x")
    val row = df.agg(count(lit(1)), count($"x"), sum($"x"), avg($"x")).head
    assert(row.getLong(0) == 3 && row.getLong(1) == 2)
    assert(row.getDouble(2) == 4.0 && row.getDouble(3) == 2.0)
  }

  test("empty input: aggregates and windows degrade cleanly") {
    val empty = Seq.empty[(Int, Double)].toDF("k", "v")
    assert(empty.groupBy("k").agg(sum("v")).count() == 0)
    val g = empty.agg(sum("v"), count(lit(1))).head
    assert(g.isNullAt(0) && g.getLong(1) == 0)
    val w = Window.partitionBy("k").orderBy("v")
    assert(empty.withColumn("rn", row_number().over(w)).count() == 0)
  }

  test("dedup is idempotent and keeps one row per key") {
    val df = Seq((1, "x"), (1, "x"), (2, "y"), (2, "z")).toDF("k", "v")
    val d1 = df.dropDuplicates("k")
    assert(d1.count() == 2)
    assert(d1.dropDuplicates("k").count() == 2)
  }

  test("as-of join semantics: latest click at/before, none before -> null") {
    // user 1: clicks at t=10,20; purchases at t=15,25 -> matched 10, 20.
    // user 2: purchase at t=5 with no prior click -> null.
    def ev(id: Long, user: Long, typ: String, t: Long) =
      (id, user, typ, new java.sql.Timestamp(t * 1000))
    val events = Seq(
      ev(1, 1, "click", 10), ev(2, 1, "purchase", 15),
      ev(3, 1, "click", 20), ev(4, 1, "purchase", 25),
      ev(5, 2, "purchase", 5)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val clicks = events.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        lit(null).cast("long").as("p_id"))
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("long").as("click_id"),
        $"event_id".as("p_id"))
    val w = Window.partitionBy("user_id")
      .orderBy($"ts", $"click_id".asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = clicks.unionByName(purchases)
      .withColumn("last_click", last($"click_id", ignoreNulls = true).over(w))
      .filter($"p_id".isNotNull)
      .select($"p_id", $"last_click")
      .orderBy($"p_id")
      .collect()
    assert(out.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((2L, 1L), (4L, 3L), (5L, -1L)))
  }

  test("rollup includes subtotals and grand total") {
    val df = Seq(("a", "x", 1), ("a", "y", 2), ("b", "x", 3)).toDF("g1", "g2", "v")
    val out = df.rollup("g1", "g2").agg(sum("v")).collect()
    // 3 leaves + 2 g1 subtotals + 1 grand total
    assert(out.length == 6)
    val grand = out.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    assert(grand.getLong(2) == 6)
  }

  test("intersect/except use distinct set semantics") {
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(1, 3, 3, 4).toDF("x")
    assert(a.intersect(b).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(a.except(b).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("collect_set + array_sort is deterministic under repartition") {
    val df = Seq((1, "c"), (1, "a"), (1, "b")).toDF("k", "v").repartition(3)
    val out = df.groupBy("k").agg(array_sort(collect_set($"v")).as("s")).head
    assert(out.getSeq[String](1) == Seq("a", "b", "c"))
  }

  test("self-consistency: semi join ≡ inner join + distinct left key") {
    val customer = Tables.load(spark, SparkTestSession.sfDir, "customer")
    val orders = Tables.load(spark, SparkTestSession.sfDir, "orders")
      .filter($"o_totalprice" > 400000)
    val semi = customer.join(orders, $"c_custkey" === $"o_custkey", "left_semi")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val innerDistinct = customer.join(orders, $"c_custkey" === $"o_custkey")
      .select("c_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert(semi == innerDistinct && semi.nonEmpty)
  }

  test("self-consistency: window top-n ≡ sorted collect_list take n") {
    val orders = Tables.load(spark, SparkTestSession.sfDir, "orders")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val viaWindow = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCollect = orders
      .groupBy("o_custkey")
      .agg(slice(reverse(array_sort(collect_list(
        struct($"o_totalprice", ($"o_orderkey" * -1).as("negkey"))))), 1, 3)
        .as("top3"))
      .select($"o_custkey", explode($"top3").as("t"))
      .select($"o_custkey", ($"t.negkey" * -1).as("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaWindow == viaCollect)
  }

  test("self-consistency: win_range_frame cumsum-difference ≡ native RANGE window") {
    // The declared query re-spells RANGE BETWEEN 10000 PRECEDING AND
    // CURRENT ROW as a cumulative-sum difference (scale path); the native
    // WindowExec spelling is the semantic ground truth at test scale.
    import org.apache.spark.sql.expressions.Window
    val fast = SparkEntry.queries("win_range_frame")(spark, sfDir).collect()
    val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
      .rangeBetween(-10000, Window.currentRow)
    val slow = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_in_band"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("band_sum"))
      .orderBy("o_orderkey").limit(2000).collect()
    assert(fast.length == slow.length && fast.length > 0)
    fast.zip(slow).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("self-consistency: dedup survivor count ≡ countDistinct") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val dedupCount = docs.dropDuplicates("text").count()
    val distinctCount = docs.agg(countDistinct($"text")).head.getLong(0)
    assert(dedupCount == distinctCount)
  }

  test("decimal-factor parity convention survives nulls") {
    val df = Seq(Some(10.5), None).toDF("x")
    val s = df.agg(sum(Parity.dec2($"x") * Parity.dec2(lit(1) - lit(0.1)))
      .cast("double")).head
    assert(math.abs(s.getDouble(0) - 9.45) < 1e-9)
  }

  test("scd2: same-instant run starts break ties by event_id, not arbitrarily") {
    // Two different-type events at the SAME timestamp both open runs; the
    // LEAD/ordering tiebreak (event_id) must pin which run closes — the
    // lower event_id's run gets valid_to = T, the higher stays current.
    val t0 = 1700000000L * 1000000000L
    val ev = Seq(
      (10L, t0, 1L, "view", 1.0, "{}"),
      (11L, t0, 1L, "click", 1.0, "{}"),
      (12L, t0 + 3600L * 1000000000L, 1L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = ScratchDir.create("graft_scd2_tie")
    ev.write.parquet(s"$tmp/events.parquet")
    val out = graft.operators.TableOps.scd2Intervals.fn(spark, tmp).collect()
      .map(r => (r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getBoolean(4)))
    assert(out.length == 3)
    val Array(view, click, purchase) = out
    // view (event_id 10) closes at T itself (the tie's next run start is
    // click, also at T), click closes at T+1h, purchase stays current.
    assert(view._1 == "view" && !view._4 &&
      view._3.get.getTime == view._2.getTime)
    assert(click._1 == "click" && !click._4 &&
      click._3.get.getTime == click._2.getTime + 3600L * 1000L)
    assert(purchase._1 == "purchase" && purchase._3.isEmpty && purchase._4)
  }
}
