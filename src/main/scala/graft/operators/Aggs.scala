package graft.operators

import graft.{Parity, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import Parity._

/** SURVEY §2-D: aggregation family.
  *
  * All of these plan as two-phase HashAggregate (partial map-side combine +
  * final after one shuffle on the grouping keys) — the optimal distributed
  * shape. rollup/cube expand via `Expand` before the same two-phase agg.
  */
object Aggs {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** D1 — multi-aggregate hash aggregation (beyond q1's shape). */
  val aggHashMulti = Q(
    "agg_hash_multi",
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price,
       |  ${sqlRavg("o_totalprice")} AS avg_price,
       |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
       |  MIN(CAST(o_orderdate AS DATE)) AS first_date,
       |  MAX(CAST(o_orderdate AS DATE)) AS last_date
       |FROM orders GROUP BY o_orderstatus, o_orderpriority
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        ravg(col("o_totalprice")).as("avg_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(to_date(col("o_orderdate"))).as("first_date"),
        max(to_date(col("o_orderdate"))).as("last_date"))
      .transform(sortedSmall(_, col("o_orderstatus"), col("o_orderpriority")))
  }

  /** D2 — keyless global aggregate. */
  val aggGlobal = Q(
    "agg_global",
    s"""SELECT COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS total,
       |  ${sqlRavg("o_totalprice")} AS avg_price,
       |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
       |FROM orders""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").agg(
      count(lit(1)).as("n_orders"),
      dsum(col("o_totalprice")).as("total"),
      ravg(col("o_totalprice")).as("avg_price"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"))
  }

  /** D3 — exact count distinct per group (expand + two-phase agg). */
  val aggCountDistinct = Q(
    "agg_count_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_custkey")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
        .transform(sortedSmall(_, col("o_orderstatus")))
  }

  /** D4 — HLL++ approximate distinct. No SQL oracle (engine-specific HLL
    * internals, SURVEY §5.4); AggSpec asserts tolerance vs the exact twin. */
  val aggApproxDistinct = Q.noOracle("agg_approx_distinct") { (s, dir) =>
    t(s, dir, "orders").select("o_orderstatus", "o_custkey")
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"))
      .transform(sortedSmall(_, col("o_orderstatus")))
  }

  /** D5 — rollup subtotal hierarchy. */
  val aggRollup = Q(
    "agg_rollup",
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) {
    (s, dir) =>
      rollupFromBase(
        t(s, dir, "orders")
          .select("o_orderstatus", "o_orderpriority", "o_totalprice"))(
        _.rollup("o_orderstatus", "o_orderpriority"))
        .transform(sortedSmall(_, col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first))
  }

  /** Rollup/cube as RE-AGGREGATION of the finest grouping (round 14, the
    * sf100 weak-key fix): Spark plans rollup/cube via `Expand`, which
    * replicates EVERY input row once per grouping set — 3× (rollup) or
    * 4× (cube) the rows through the partial aggregate, 450 M–600 M tuples
    * at the 150 M-row tier, and the measured 3× gap vs DuckDB (which
    * rolls subtotals up from the finest grouping). Decimal sums and
    * counts are associative, so aggregating to the (status, priority)
    * base FIRST (~15 rows at any corpus size — the domain bounds it) and
    * expanding only the base is exactly equal: the Parity ROUND(…, 2)
    * happens once, on the full-precision decimal total of each output
    * row, same as the single-pass form. One linear plan — scan → partial
    * agg → 15-row exchange → Expand over 15 rows — so nothing re-scans
    * and construction stays job-free. At 100 TB this is the difference
    * between shuffling grouping-set-replicated partials and shuffling
    * the base group count. */
  private def rollupFromBase(orders: DataFrame)(
      expand: DataFrame => RelationalGroupedDataset): DataFrame =
    expand(
      orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("base_n"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).as("base_sp")))
      .agg(sum(col("base_n")).as("n"),
        round(sum(col("base_sp")), 2).cast(DoubleType).as("sum_price"))

  /** D6 — cube: all grouping combinations. */
  val aggCube = Q(
    "agg_cube",
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) {
    (s, dir) =>
      rollupFromBase(
        t(s, dir, "orders")
          .select("o_orderstatus", "o_orderpriority", "o_totalprice"))(
        _.cube("o_orderstatus", "o_orderpriority"))
        .transform(sortedSmall(_, col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first))
  }

  /** D7 — explicit grouping sets + grouping() disambiguation (SQL path). */
  val aggGroupingSets = Q(
    "agg_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) {
    (s, dir) =>
      val view = s"orders_gs_${math.abs(dir.hashCode)}"
      t(s, dir, "orders").createOrReplaceTempView(view)
      // Same re-aggregation shape as [[rollupFromBase]]: Expand runs over
      // the ~15-row finest grouping, not the fact; COUNT(*) becomes
      // SUM(base n) (exactly equal — counts are associative), and
      // GROUPING() keys on the outer grouping sets as before.
      s.sql(
        s"""WITH base AS (
           |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS bn
           |  FROM $view GROUP BY o_orderstatus, o_orderpriority)
           |SELECT o_orderstatus, o_orderpriority, SUM(bn) AS n,
           |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
           |FROM base
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  /** D8 — per-group collected list/set (Solr multivalued-field shape).
    * `array_sort` makes the collected order deterministic; the declared
    * output renders the arrays as delimited strings (raw array columns are
    * not hashable by the driver's comparator — same convention as
    * agg_string_agg). */
  val aggCollect = Q(
    "agg_collect",
    """SELECT s_nationkey,
      |  array_to_string(list_sort(list(s_name)), ',') AS supplier_names,
      |  array_to_string(list_sort(list(DISTINCT s_name)), ',') AS distinct_names
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) {
    (s, dir) =>
      t(s, dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
          array_join(array_sort(collect_list(col("s_name"))), ",").as("supplier_names"),
          array_join(array_sort(collect_set(col("s_name"))), ",").as("distinct_names"))
        .transform(sortedSmall(_, col("s_nationkey")))
  }

  /** D9 — argmin/argmax: first/latest event per user. */
  val aggMinMaxBy = Q(
    "agg_minmax_by",
    """SELECT user_id, arg_max(event_id, ts) AS last_event,
      |  arg_min(event_id, ts) AS first_event, MAX(value) AS max_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        max_by(col("event_id"), col("ts")).as("last_event"),
        min_by(col("event_id"), col("ts")).as("first_event"),
        max(col("value")).as("max_value"))
      .orderBy("user_id")
  }

  /** Skew-safe two-phase aggregation spelled explicitly: partial aggregate
    * on (key, salt) fans a hot key over 16 reducers, final aggregate
    * merges the partials. Result is salt-independent (decimal sums are
    * associative-exact), so the oracle is the plain GROUP BY. Spark's own
    * partial/final split does this implicitly for combinable aggregates;
    * the explicit form is the pattern for non-combinable custom state at
    * 100 TB (SCALE.md skew section). */
  val aggSaltedTwoPhase = Q(
    "agg_salted_twophase",
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
      val partial = t(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("event_id"), lit(16L)).as("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(12,2)")).as("psum"))
      partial
        .groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          sum(col("psum")).cast("double").as("sum_value"))
        .orderBy("event_type")
  }

  /** D-adjacent — boolean/conditional aggregates: bool_and / bool_or /
    * count_if — the assertion-style rollups ("is every discount mild",
    * "any high-tax line in this group") that replace self-joins.
    * DuckDB count_if returns HUGEINT → cast BIGINT (the H6 lesson). */
  val aggBool = Q(
    "agg_bool",
    """SELECT l_returnflag,
      |  bool_and(l_discount <= 0.08) AS all_mild_discount,
      |  bool_or(l_tax > 0.07) AS any_high_tax,
      |  CAST(count_if(l_quantity >= 25) AS BIGINT) AS n_bulk
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          bool_and(col("l_discount") <= 0.08).as("all_mild_discount"),
          bool_or(col("l_tax") > 0.07).as("any_high_tax"),
          count_if(col("l_quantity") >= 25).as("n_bulk"))
        .orderBy("l_returnflag")
  }

  /** D-adjacent — UNPIVOT/melt: wide metric columns to long (metric, value)
    * rows, the inverse of agg_pivot and the long-format feed for
    * metric-generic pipelines. Spark's native `unpivot` plans as Expand
    * (one pass, no join); the oracle spells the same semantics as the
    * portable UNION ALL. */
  val aggUnpivot = Q(
    "agg_unpivot",
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |         l_discount, l_tax
      |  FROM lineitem
      |  ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |           l_discount, l_tax
      |  LIMIT 2000)
      |SELECT l_orderkey, l_linenumber, metric, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |         l_quantity AS value FROM src
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM src
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src) long
      |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      // (l_orderkey, l_linenumber) is NOT unique in the reduced schema:
      // order by the full row so the LIMIT's boundary ties are identical
      // rows (interchangeable across engines).
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .limit(2000)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric", "value")
  }

  /** D-adjacent — NATIVE top-k aggregate (functions.TopKAgg, a
    * TypedImperativeAggregate with a k-bounded heap buffer): each
    * partition ships ≤ k doubles per group into the shuffle — map-side
    * partial top-k, where the window spelling shuffles every row before
    * discarding all but k. The declared output renders the array as
    * decimal strings per the comparator convention; AggSpec pins
    * equivalence to the window spelling and merge determinism. */
  val aggTopkNative = Q(
    "agg_topk_native",
    """SELECT o_orderstatus,
      |  array_to_string(list_transform(
      |    list(o_totalprice ORDER BY o_totalprice DESC)[1:5],
      |    x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ',') AS top5
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, dir) =>
      VectorOps.registerFns(s)
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(array_join(
          transform(
            call_function("topk_agg", col("o_totalprice"), lit(5)),
            x => x.cast("decimal(12,2)").cast("string")),
          ",").as("top5"))
        .orderBy("o_orderstatus")
  }

  /** D-adjacent — exact OLS simple regression (slope/intercept/r²) of
    * l_extendedprice on l_quantity via the closed-form moment sums.
    * Spark ships regr_slope/regr_r2, but their double accumulation is
    * partition-order-dependent — so the moments go through the Parity
    * DECIMAL-laundering convention instead (order-exact, cross-engine
    * identical) and the closed form evaluates in doubles from identical
    * decimal inputs. One map-side-combined aggregate over the fact scan;
    * per-group (orderstatus via lineitem⋈orders would add a join — this
    * declares the global fit, the canonical data-profiling shape). */
  val aggRegression = Q(
    "agg_regression_stats",
    """WITH m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8)))
      |      AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8)))
      |      AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8)))
      |      AS DOUBLE) AS sxy
      |  FROM lineitem)
      |SELECT n,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept,
      |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m""".stripMargin) { (s, dir) =>
    def dsum28(c: Column): Column =
      sum(c.cast(DecimalType(28, 8))).cast("double")
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val m = t(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      dsum28(x).as("sx"), dsum28(y).as("sy"),
      dsum28(x * x).as("sxx"), dsum28(y * y).as("syy"),
      dsum28(x * y).as("sxy"))
    val n = col("n").cast("double")
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    m.select(
      col("n"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / n, 6).as("intercept"),
      round(
        ((n * col("sxy") - col("sx") * col("sy")) *
         (n * col("sxy") - col("sx") * col("sy"))) /
        ((n * col("sxx") - col("sx") * col("sx")) *
         (n * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  val all: Seq[Q] = Seq(aggHashMulti, aggGlobal, aggCountDistinct,
    aggApproxDistinct, aggRollup, aggCube, aggGroupingSets, aggCollect,
    aggMinMaxBy, aggSaltedTwoPhase, aggBool, aggUnpivot, aggTopkNative,
    aggRegression)
}
