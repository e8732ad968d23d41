package graft.operators

import graft.{Parity, Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity._

/** SURVEY §2-E: window functions.
  *
  * Every window partitions by a real key (customer / user), so at scale each
  * WindowExec is one shuffle on the partition key + per-partition sort — no
  * single-partition global windows anywhere (those would serialize 100 TB
  * through one task).
  */
object Windows {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** E1 — per-partition top-N with ranking family. */
  val rankTopN = Q(
    "win_rank_topn",
    """SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT c_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM customer JOIN orders ON c_custkey = o_custkey) x
      |WHERE rn <= 3 ORDER BY c_custkey, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("c_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // The join only validates customer existence and re-labels the key —
    // project the dim to c_custkey and plan-time materialize it under the
    // byte gate (8 B/row), dropping the per-action broadcast-build job.
    // Over the gate the hint is DROPPED, not forced (round-17): a forced
    // broadcast of a corpus-scale key set is exactly what OOMs a
    // memory-capped executor (the 128 MB/core sf100 rung died building
    // the 15 M-key hash relation before any window ran) — let the
    // planner/AQE pick broadcast vs shuffle from stats, which still
    // broadcasts every bench-scale dim.
    // Capped-memory reroute (round-18, VERDICT r17 item 6): below the
    // per-core budget floor the window spelling is the one declared plan
    // KNOWN to die (WindowGroupLimit buffers whole groups — the
    // 128 MB/core sf100 OOM), while the bounded-aggregate twin carries
    // ≤ k rows per group × partition by construction. The two spellings
    // share one oracle and are output-identical (o_orderkey is unique per
    // group), so this is a plan choice, not a semantic fork; at normal
    // budgets (every verify/bench tier) the gate says no and the executed
    // plan is byte-stable. The window arm reads o_orderkey and o_totalprice
    // from files, which Spark types nullable, while the aggregate's fields
    // are non-null: the reroute widens them, so both arms write one schema.
    if (graft.MemBudget.rerouteTopN(s))
      Seq("o_orderkey", "o_totalprice").foldLeft(aggPlan(s, dir))((df, c) =>
        df.withColumn(c, org.apache.spark.sql.GraftSqlBridge.nullable(col(c))))
    else t(s, dir, "orders")
      .join(custArm(s, dir, "ranktopn").map(broadcast)
        .getOrElse(t(s, dir, "customer").select("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("c_custkey", "rn")
  }

  /** The localize-or-stats customer-key arm shared by both top-N
    * spellings (round-17 discipline: over the gate the broadcast hint is
    * DROPPED, never forced). */
  private def custArm(s: SparkSession, dir: String,
      tag: String): Option[org.apache.spark.sql.DataFrame] =
    graft.Dims.localizeSmall(
      t(s, dir, "customer").select("c_custkey"), s"$dir#$tag.cust", 8)

  /** The bounded-aggregate top-N plan, shared by [[rankTopNAgg]] (its
    * declared spelling) and [[rankTopN]]'s capped-memory reroute. */
  private def aggPlan(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    VectorOps.registerFns(s)
    // AGGREGATE BEFORE THE JOIN (round-17, guide §2.3): the aggregate
    // groups by exactly the join key, the join is an INNER join on that
    // key, and the customer side is UNIQUE on c_custkey (PK) — so the
    // join is a pure existence filter on whole groups and
    // top-k-then-join ≡ join-then-top-k. (A duplicated customer key
    // would break this: pre-join duplication would multiply order rows
    // BEFORE the top-k and change which rows fill the k slots, whereas
    // post-aggregation it duplicates whole result groups — ADVICE r17.)
    // Aggregating first reduces the join's fact side from every order
    // row to ≤ k rows per customer, which is what lets the 128 MB/core
    // sf100 rung complete: the capped-memory SMJ sorts ~3·|customers|
    // bounded rows instead of all of orders.
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(call_function("topk_row_agg", col("o_totalprice"),
        col("o_orderkey"), lit(3)).as("top"))
      .join(custArm(s, dir, "topnagg").map(broadcast)
        .getOrElse(t(s, dir, "customer").select("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("c_custkey"), col("e.id").as("o_orderkey"),
        col("e.ord").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("c_custkey", "rn")
  }

  /** E1-scale — the SAME per-partition top-N as [[rankTopN]], spelled as
    * the memory-bounded native aggregate
    * ([[graft.functions.TopKRowAgg]], `topk_row_agg(ord, id, k)`)
    * instead of a window. This is the pre-aggregation ESCAPE for the one
    * known memory-shape boundary (round-17, VERDICT r16 missing #2):
    * Spark's WindowGroupLimit still buffers each group inside the window
    * exec — the sf100 run OOMs at a 128 MB/core heap (SCALE.md §r16) —
    * where this plan's per-group state is ≤ k (ord, id) pairs BY
    * CONSTRUCTION at every stage: the map-side partial ships at most k
    * pairs per (group × partition) into the shuffle, and the sort-based
    * aggregate fallback streams groups. Output is identical to the
    * window spelling whenever the id is unique per group (o_orderkey is
    * globally unique): array position + 1 IS the row number, so both
    * keys share one oracle. */
  val rankTopNAgg = Q(
    "win_topn_agg",
    """SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT c_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM customer JOIN orders ON c_custkey = o_custkey) x
      |WHERE rn <= 3 ORDER BY c_custkey, rn""".stripMargin) { (s, dir) =>
    // Body shared with rankTopN's capped-memory reroute — see [[aggPlan]]
    // (the round-17 localize-or-stats join discipline and the §2.3
    // aggregate-before-join argument live there).
    aggPlan(s, dir)
  }

  /** E2 — running (cumulative) sum per user over event time.
    * Decimal accumulation keeps the running values bit-identical to the
    * oracle regardless of evaluation strategy. */
  val runningSum = Q(
    "win_running",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(12,2)")).over(w)
          .cast("double").as("running_total"),
        count(lit(1)).over(w).as("n_so_far"))
      .orderBy("event_id")
  }

  /** E3 — lag/lead: inter-arrival gaps per user. */
  val lagLead = Q(
    "win_lag_lead",
    """SELECT event_id, user_id,
      |  epoch_ms(ts) - epoch_ms(LAG(ts, 1) OVER w) AS gap_ms,
      |  LAG(value, 1) OVER w AS prev_value,
      |  LEAD(event_id, 1) OVER w AS next_event
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts")
    t(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        (unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w))).as("gap_ms"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_id"), 1).over(w).as("next_event"))
      .orderBy("event_id")
  }

  /** E4 — bounded sliding frame: 4-row moving average per user. */
  val slidingFrame = Q(
    "win_sliding_frame",
    """SELECT event_id, user_id,
      |  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg,
      |  MAX(value) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_max
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-3, 0)
    t(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 4).as("moving_avg"),
        max(col("value")).over(w).as("moving_max"))
      .orderBy("event_id")
  }

  /** E5 — distribution ranks: ntile / percent_rank / cume_dist, within a
    * real partition key. A keyless total-order window would serialize the
    * whole table through ONE task at 100 TB; ranking within o_orderstatus
    * shuffles on the key and sorts per partition like every other window
    * here. Tiebreak on o_orderkey makes every rank deterministic. */
  val ntilePct = Q(
    "win_ntile_pct",
    """SELECT o_orderkey, o_orderstatus,
      |  NTILE(10) OVER w AS decile,
      |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |  ROUND(CUME_DIST() OVER w, 6) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey LIMIT 2000""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderkey").limit(2000)
  }

  /** E4 — value-range frame (RANGE BETWEEN n PRECEDING AND CURRENT ROW),
    * re-spelled as a cumulative-sum DIFFERENCE: band(v) = cum(≤v) − cum(<v−W).
    *
    * The naive `rangeBetween(-W, 0)` spelling is a named scale-killer
    * (round-4 10× finding): Spark's WindowExec re-aggregates the sliding
    * RANGE frame from scratch per row — O(n·w) — and PARTITION BY
    * o_orderstatus (3 distinct values) caps parallelism at 3 tasks forever.
    * This plan is O(n) with parallelism = statuses × price-bins:
    *
    *  1. collapse to distinct (status, price) — all RANGE peers share one
    *     frame, so per-value (cnt, sum) is the working granularity;
    *  2. bucket prices into W-wide bins; a tiny DENSE bin table (≤
    *     price-range/W rows per status — value-domain-bounded, broadcast)
    *     carries each bin's EXCLUSIVE prefix totals;
    *  3. inclusive cum(≤v) = bin prefix + per-(status,bin) running sum —
    *     a ROWS window over a composite key, no parallelism ceiling;
    *  4. cum(<v−W) is an as-of lookup: probe rows keyed v−W tagged to sort
    *     BEFORE data rows of equal key, `last(cum, ignoreNulls)` over a
    *     ROWS frame → strictly-below semantics by construction; probes
    *     landing in an empty/out-of-range bin fall back to that bin's
    *     prefix (or 0 below the domain).
    *
    * Every window here is a ROWS frame; decimal accumulation makes both
    * cums exact, so their difference is bit-identical to the oracle's
    * in-frame sum. Same binning function (floor(x/W)) on values and probe
    * keys keeps bin assignment consistent with the double arithmetic of
    * v−W on both engines. */
  val rangeFrame = Q(
    "win_range_frame",
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  COUNT(*) OVER w AS n_in_band,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS band_sum
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
      |             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey LIMIT 2000""".stripMargin) { (s, dir) =>
    val W = 10000.0d
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

    // 1. distinct-value granularity (peers share the frame)
    val dv = orders.groupBy("o_orderstatus", "o_totalprice")
      .agg(count(lit(1)).as("v_cnt"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("v_sum"))
      .withColumn("bin", floor(col("o_totalprice") / W))

    // 2. dense per-status bin table with EXCLUSIVE prefix totals
    val binTotals = dv.groupBy("o_orderstatus", "bin")
      .agg(sum("v_cnt").as("b_cnt"), sum("v_sum").as("b_sum"))
    val wBin = Window.partitionBy("o_orderstatus").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = binTotals.groupBy("o_orderstatus")
      .agg(min("bin").as("lo"), max("bin").as("hi"))
      .select(col("o_orderstatus"),
        explode(sequence(col("lo"), col("hi"))).as("bin"))
      .join(binTotals, Seq("o_orderstatus", "bin"), "left")
      .select(col("o_orderstatus"), col("bin"),
        coalesce(sum("b_cnt").over(wBin), lit(0L)).as("p_cnt"),
        coalesce(sum("b_sum").over(wBin),
          lit(0).cast("decimal(38,4)")).as("p_sum"))

    // 3. inclusive cumulative totals per distinct value
    val wLoc = Window.partitionBy("o_orderstatus", "bin")
      .orderBy("o_totalprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dv.join(broadcast(prefix), Seq("o_orderstatus", "bin"))
      .select(col("o_orderstatus"), col("bin"), col("o_totalprice"),
        (col("p_cnt") + sum("v_cnt").over(wLoc)).as("cum_cnt"),
        (col("p_sum") + sum("v_sum").over(wLoc)).as("cum_sum"))

    // 4. as-of lookup of the strictly-below-lower-boundary cum. Each cum
    // row explodes into its data row AND its probe row (keyed v−W, tagged
    // to sort before equal-key data rows) in ONE pass; the probe carries
    // its value's own cum, so the band is closed right at the window with
    // no join back to cum. src_* feed last(); own_* close the band.
    val exploded = cum.select(col("o_orderstatus"), explode(array(
        struct(
          floor((col("o_totalprice") - W) / W).as("bin"),
          (col("o_totalprice") - W).as("key"),
          lit(0).as("tag"),
          col("o_totalprice").as("orig_v"),
          lit(null).cast("long").as("src_cnt"),
          lit(null).cast("decimal(38,4)").as("src_sum"),
          col("cum_cnt").as("own_cnt"),
          col("cum_sum").as("own_sum")),
        struct(
          col("bin").as("bin"),
          col("o_totalprice").as("key"),
          lit(1).as("tag"),
          lit(null).cast("double").as("orig_v"),
          col("cum_cnt").as("src_cnt"),
          col("cum_sum").as("src_sum"),
          lit(null).cast("long").as("own_cnt"),
          lit(null).cast("decimal(38,4)").as("own_sum")))).as("r"))
      .select(col("o_orderstatus"), col("r.*"))
      .join(broadcast(prefix), Seq("o_orderstatus", "bin"), "left")
    val wAsof = Window.partitionBy("o_orderstatus", "bin")
      .orderBy(col("key"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bands = exploded
      .withColumn("below_cnt",
        coalesce(last(col("src_cnt"), ignoreNulls = true).over(wAsof),
          col("p_cnt"), lit(0L)))
      .withColumn("below_sum",
        coalesce(last(col("src_sum"), ignoreNulls = true).over(wAsof),
          col("p_sum"), lit(0).cast("decimal(38,4)")))
      .filter(col("tag") === 0)
      .select(col("o_orderstatus"), col("orig_v").as("o_totalprice"),
        (col("own_cnt") - col("below_cnt")).as("n_in_band"),
        (col("own_sum") - col("below_sum")).cast("double").as("band_sum"))

    orders.join(bands, Seq("o_orderstatus", "o_totalprice"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("n_in_band"), col("band_sum"))
      .orderBy("o_orderkey").limit(2000)
  }

  /** E3-adjacent — first_value/last_value/nth_value: each event annotated
    * with its user's session entry, exit and third touch. The full
    * partition frame is EXPLICIT on both engines (last_value's default
    * frame stops at CURRENT ROW — the classic silent-wrong-answer);
    * ordering is pinned unique by (ts, event_id). */
  val firstLast = Q(
    "win_first_last",
    """SELECT event_id, user_id,
      |  FIRST_VALUE(event_type) OVER w AS first_type,
      |  LAST_VALUE(event_type) OVER w AS last_type,
      |  NTH_VALUE(event_type, 3) OVER w AS third_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"),
        nth_value(col("event_type"), 3).over(w).as("third_type"))
      .orderBy("event_id")
  }

  /** E1-adjacent — RANK vs DENSE_RANK under heavy ties (l_quantity repeats
    * constantly): rank leaves gaps after tie groups, dense_rank doesn't —
    * the pair a reporting layer actually distinguishes. Rows sharing
    * (flag, quantity) share both ranks, so the full-row ORDER BY leaves
    * only interchangeable duplicates (the hash-safe tie convention). */
  val denseRank = Q(
    "win_dense_rank",
    """SELECT l_returnflag, l_quantity,
      |  CAST(RANK() OVER w AS BIGINT) AS rnk,
      |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
      |ORDER BY l_returnflag, l_quantity DESC, rnk, drnk""".stripMargin) {
    (s, dir) =>
      val w = Window.partitionBy("l_returnflag").orderBy(col("l_quantity").desc)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .orderBy(col("l_returnflag"), col("l_quantity").desc, col("rnk"),
          col("drnk"))
  }

  /** E2-adjacent — RUNNING DISTINCT COUNT, a window Spark cannot express
    * natively (`count(DISTINCT) OVER` is unsupported in Spark SQL and the
    * naive `size(collect_set(...))` frame holds per-row set state — O(n·d)
    * memory in the WindowExec buffer). Scale-safe two-pass spelling:
    *
    *  1. first-occurrence flag: row_number over (partition, VALUE) ordered
    *     by the event-time key == 1 — one shuffle on (type, user);
    *  2. running ROWS sum of the flags over (partition) — one shuffle on
    *     type.
    *
    * A prefix in (ts, event_id) order contains exactly as many distinct
    * users as first-occurrence flags, so the running flag sum IS the
    * running distinct count.
    *
    * The naive flag-sum window `PARTITION BY event_type ORDER BY ts` has a
    * ~5-distinct-value partition key — the same hard parallelism ceiling
    * win_range_frame's RANGE plan had (each type's full history sorts and
    * sums on ONE task forever; the 1000× run measured 399 s at 100 M
    * events). Same cure, day-bucketed cumulative sums: per-(type, day)
    * flag totals → a tiny types × days EXCLUSIVE-prefix table (broadcast)
    * → per-(type, day) ROWS running sum + prefix. day(ts) is monotone in
    * ts, so bucket order is prefix order and the sum is exactly the
    * global running count; parallelism = types × days, which GROWS with
    * history length instead of capping at the type count.
    * Ordering is pinned unique by (ts, event_id) so ROWS frames agree
    * across engines. */
  val countDistinctRunning = Q(
    "win_count_distinct",
    """SELECT event_id, event_type,
      |  COUNT(DISTINCT user_id) OVER (PARTITION BY event_type
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_users_seen
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val wFirst = Window.partitionBy("event_type", "user_id")
      .orderBy("ts", "event_id")
    val flagged = t(s, dir, "events")
      .withColumn("first_flag",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("bin", to_date(col("ts")))
    val binTotals = flagged.groupBy("event_type", "bin")
      .agg(sum("first_flag").as("b_flags"))
    val wBin = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = binTotals.select(col("event_type"), col("bin"),
      coalesce(sum("b_flags").over(wBin), lit(0L)).as("p_flags"))
    val wLoc = Window.partitionBy("event_type", "bin")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged.join(broadcast(prefix), Seq("event_type", "bin"))
      .select(col("event_id"), col("event_type"),
        (col("p_flags") + sum("first_flag").over(wLoc)).as("n_users_seen"))
      .orderBy("event_id")
  }

  val all: Seq[Q] = Seq(rankTopN, rankTopNAgg, runningSum, lagLead,
    slidingFrame, ntilePct, rangeFrame, firstLast, denseRank,
    countDistinctRunning)
}
