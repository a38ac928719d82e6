package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, IntegerType, LongType}

import graft.Tables
import graft.functions.Kmv

import QueryDef.{d4ToDouble, dec, dec38}

/** Aggregation and windows: the SURVEY §2.4 aggregates (grouped,
  * conditional, distinct, global, time-bucketed), grouping sets,
  * window frames and rankings, mergeable sketches, and the TPC-H style
  * operations/finance roll-ups built on them.
  *
  * Determinism rules: see the [[QueryDef]] companion.
  */
object AggregateGates {

  /** Scale-6 twin of [[d4ToDouble]] (sum of price·(1−disc)·(1+tax)). */
  private def d6ToDouble(c: Column): Column =
    (c * lit(1000000L)).cast(DecimalType(38, 0)).cast("double") / lit(1000000.0d)

  private val K = 64

  /** Shared oracle CTE: per-type k-minimum distinct user hashes. */
  private val kmvCte =
    s"""h AS (SELECT DISTINCT event_type,
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv,
          row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h),
      sk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = $K THEN hv END) AS hk
        FROM r WHERE rn <= $K GROUP BY event_type)"""

  /** Weekly shipped quantity per part (exact integer units). */
  private def weeklyDemand(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"),
        floor(datediff(to_date(col("l_shipdate")),
          lit("1995-01-01").cast(DateType)) / lit(7.0))
          .cast(LongType).as("wk"),
        col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
          .as("qty"))
      .groupBy("l_partkey", "wk").agg(sum("qty").as("q"))

  private val weeklyDemandSql: String =
    """wd AS (SELECT l_partkey, wk, CAST(SUM(qty) AS BIGINT) AS q
      FROM (SELECT l_partkey,
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
        FROM lineitem) GROUP BY 1, 2)"""

  // ---------------------------------------------------------------- A1/A4
  private val q01 = QueryDef(
    "q01_groupby_agg",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    covers = Seq("A1", "A4"))

  // ---------------------------------------------------------------- A2
  private val q02 = QueryDef(
    "q02_conditional_agg",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_totalprice") > 150000, 1).otherwise(0)).as("n_big"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("A2", "A7"))

  // ---------------------------------------------------------------- A3
  private val q03 = QueryDef(
    "q03_count_distinct",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("A3"))

  // ---------------------------------------------------------------- A5
  // Hour × day-of-week bucketing. Spark dayofweek is Sunday=1, the
  // reference's STRFTIME('%w') (and DuckDB dayofweek) are Sunday=0 —
  // subtract 1 for parity (SURVEY §2.4 A5).
  private val q04 = QueryDef(
    "q04_hour_dow",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.groupBy(
          date_format(col("ts"), "HH").as("hour_of_day"),
          (dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"))
        .agg(
          count(lit(1)).as("n_events"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
        .orderBy("hour_of_day", "dow")
    },
    Some("""SELECT strftime(ts, '%H') AS hour_of_day,
      CAST(dayofweek(ts) AS INTEGER) AS dow,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A5"))

  // ---------------------------------------------------------------- A6/J4
  // String-to-rows unnest: the reference contorts CSV → json_each
  // (aggregators.py:66-78); Spark's explode(split) is the native form.
  private val q05 = QueryDef(
    "q05_explode_tokens",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.select(explode(split(lower(col("text")), " +")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("token"))
        .limit(25)
    },
    Some("""WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), ' +')) AS token FROM documents)
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks
      WHERE token <> '' GROUP BY token
      ORDER BY cnt DESC, token LIMIT 25"""),
    covers = Seq("A6", "J4", "O2"))

  // ---------------------------------------------------------------- A7
  private val q06 = QueryDef(
    "q06_global_agg",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(dec(col("l_extendedprice"))).cast("double").as("total_price"),
          (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_discount"),
          min(to_date(col("l_shipdate"))).as("first_ship"),
          max(to_date(col("l_shipdate"))).as("last_ship"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_discount,
      CAST(MIN(l_shipdate) AS DATE) AS first_ship,
      CAST(MAX(l_shipdate) AS DATE) AS last_ship
      FROM lineitem"""),
    covers = Seq("A7"))

  // ---------------------------------------------------------------- W1/W2/W7/A8
  // Daily revenue with a 7-row sliding frame — the reference's
  // ROLLING_TREND (aggregators.py:40-53). Aggregate first, window over
  // the (small) aggregated frame; decimal through the window so frame
  // evaluation order is irrelevant.
  private val q07 = QueryDef(
    "q07_rolling_window",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val daily = o.groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.orderBy("order_date").rowsBetween(-6, Window.currentRow)
      daily.select(
          col("order_date"),
          col("n_orders"),
          sum(col("n_orders")).over(w).as("rolling_orders_7"),
          sum(col("rev")).over(w).cast("double").as("rolling_rev_7"),
          (sum(col("rev")).over(w).cast("double") /
            sum(col("n_orders")).over(w)).as("rolling_avg_price"))
        .orderBy("order_date")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT order_date, n_orders,
        CAST(SUM(n_orders) OVER w AS BIGINT) AS rolling_orders_7,
        CAST(SUM(rev) OVER w AS DOUBLE) AS rolling_rev_7,
        CAST(SUM(rev) OVER w AS DOUBLE) / SUM(n_orders) OVER w AS rolling_avg_price
      FROM daily
      WINDOW w AS (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY order_date"""),
    covers = Seq("W1", "W2", "W7", "A8"))

  // ---------------------------------------------------------------- W3/W4/W6
  // All four ranking flavors (aggregators.py:98-115, 207-213).
  // row_number gets a unique tiebreak; rank/dense_rank/percent_rank
  // order only by the (possibly tied) value — identical semantics in
  // both engines.
  private val q08 = QueryDef(
    "q08_ranking",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val byBal = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      val byBalTies = Window.partitionBy("c_nationkey").orderBy(desc("c_acctbal"))
      val global = Window.orderBy("c_acctbal")
      c.select(
          col("c_custkey"),
          col("c_nationkey"),
          row_number().over(byBal).cast(LongType).as("rn"),
          rank().over(byBalTies).cast(LongType).as("rnk"),
          dense_rank().over(byBalTies).cast(LongType).as("drnk"),
          percent_rank().over(global).as("pct_rank"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey,
      ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
      RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
      DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk,
      PERCENT_RANK() OVER (ORDER BY c_acctbal) AS pct_rank
      FROM customer ORDER BY c_custkey"""),
    covers = Seq("W3", "W4", "W6"))

  // ---------------------------------------------------------------- W5
  // Day-over-day deltas via LAG/LEAD (aggregators.py:148-164).
  private val q09 = QueryDef(
    "q09_lag_lead",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val daily = o.groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.orderBy("order_date")
      daily.select(
          col("order_date"),
          col("n"),
          lag(col("n"), 1).over(w).as("prev_n"),
          (col("n") - lag(col("n"), 1).over(w)).as("delta_n"),
          ((col("n") - lag(col("n"), 1).over(w)).cast("double") * 100 /
            nullif(lag(col("n"), 1).over(w), lit(0))).as("pct_change"),
          lead(col("n"), 1).over(w).as("next_n"),
          col("rev").cast("double").as("revenue"))
        .orderBy("order_date")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT order_date, n,
        LAG(n, 1) OVER w AS prev_n,
        n - LAG(n, 1) OVER w AS delta_n,
        CAST(n - LAG(n, 1) OVER w AS DOUBLE) * 100 / NULLIF(LAG(n, 1) OVER w, 0) AS pct_change,
        LEAD(n, 1) OVER w AS next_n,
        CAST(rev AS DOUBLE) AS revenue
      FROM daily WINDOW w AS (ORDER BY order_date) ORDER BY order_date"""),
    covers = Seq("W5"))

  // ---------------------------------------------------------------- W8
  // FILTER-clause window rewrite: Spark has no FILTER on windows →
  // sum(when(cond, x)) with NO otherwise, preserving FILTER's
  // empty-set→NULL semantics (SURVEY §2.5 W8).
  private val q10 = QueryDef(
    "q10_share_window",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val daily = e.groupBy(
          to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val byDay = Window.partitionBy("event_date")
      daily.select(
          col("event_date"),
          col("event_type"),
          col("cnt"),
          sum(col("cnt")).over(byDay).as("day_total"),
          (col("cnt").cast("double") * 100 /
            nullif(sum(col("cnt")).over(byDay), lit(0))).as("pct_of_day"),
          sum(when(col("event_type") === "error", col("cnt")))
            .over(byDay).as("day_errors"))
        .orderBy("event_date", "event_type")
    },
    Some("""WITH daily AS (
        SELECT CAST(ts AS DATE) AS event_date, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT event_date, event_type, cnt,
        CAST(SUM(cnt) OVER d AS BIGINT) AS day_total,
        CAST(cnt AS DOUBLE) * 100 / NULLIF(SUM(cnt) OVER d, 0) AS pct_of_day,
        CAST(SUM(cnt) FILTER (WHERE event_type = 'error') OVER d AS BIGINT) AS day_errors
      FROM daily WINDOW d AS (PARTITION BY event_date)
      ORDER BY event_date, event_type"""),
    covers = Seq("W8"))

  // ---------------------------------------------------------------- §2.8 dates
  private val q19 = QueryDef(
    "q19_date_funcs",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.groupBy(
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          min(to_date(col("o_orderdate"))).as("first_day"),
          max(datediff(lit("2002-01-01").cast("date"), to_date(col("o_orderdate"))))
            .as("max_days_to_2002"))
        .orderBy("order_year", "order_month")
    },
    Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(MIN(o_orderdate) AS DATE) AS first_day,
      CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS INTEGER) AS max_days_to_2002
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A1"))

  // ---------------------------------------------------------------- rollup
  // Subtotal hierarchies; NULL group keys replaced by a sentinel so
  // both engines order identically (Spark sorts NULLS FIRST, DuckDB
  // NULLS LAST).
  private val q39 = QueryDef(
    "q39_rollup",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .select(
          coalesce(col("n_name"), lit("(all)")).as("nation"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          col("n"), col("qty"))
        .orderBy("nation", "returnflag")
    },
    Some("""SELECT
        COALESCE(n_name, '(all)') AS nation,
        COALESCE(l_returnflag, '(all)') AS returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, l_returnflag)
      ORDER BY nation, returnflag"""),
    covers = Seq("AGG-rollup"))

  // ---------------------------------------------------------------- approx
  // HLL / GK sketch values differ across engines, so the sketch
  // OUTPUTS can't hash-match an oracle — but their accuracy BOUNDS
  // can: the query emits the exact values (both engines compute
  // those) plus integer flags asserting each estimate sits inside
  // its documented error band (HLL rsd 0.02 → generous ±10%;
  // approx_percentile accuracy 1000 → rank error ≤ n/1000, checked
  // against a ±5-rank-percent exact band). The sketches are
  // deterministic for fixed data, so the flags are stable and the
  // oracle pins them to 1 — a sketch drifting out of its band turns
  // the gate red instead of passing a rows-only check.
  private val q40 = QueryDef(
    "q40_approx_distinct",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // exact bands via graft.operators.ExactQuantiles — the built-in
      // percentile() buffers the whole per-group value multiset in an
      // ObjectHashAggregate; the rank-select form is one codegen'd
      // count agg + window over distinct values, bit-identical output
      // (fuzz-pinned in ExactQuantilesSpec)
      val bands = graft.operators.ExactQuantiles.cont(
        li, Seq("l_returnflag"), "l_extendedprice",
        Seq(("b50lo", 0.45), ("b50hi", 0.55), ("b99lo", 0.985), ("b99hi", 0.995)))
      // exact distinct on its own frame: countDistinct mixed with the
      // sketch aggregates plans an Expand that duplicates every fact
      // row; two-level distinct-then-count keeps map-side combine
      val exact = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_parts"))
      li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.99D), 1000)")
            .as("pa"))
        .join(exact, Seq("l_returnflag"))
        .join(bands, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"),
          (col("ap").cast("double") >= col("exact_parts") * 0.9 &&
            col("ap").cast("double") <= col("exact_parts") * 1.1)
            .cast("long").as("hll_within_10pct"),
          (element_at(col("pa"), 1) >= col("b50lo") &&
            element_at(col("pa"), 1) <= col("b50hi"))
            .cast("long").as("p50_in_band"),
          (element_at(col("pa"), 2) >= col("b99lo") &&
            element_at(col("pa"), 2) <= col("b99hi"))
            .cast("long").as("p99_in_band"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        CAST(1 AS BIGINT) AS hll_within_10pct,
        CAST(1 AS BIGINT) AS p50_in_band,
        CAST(1 AS BIGINT) AS p99_in_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("AGG-approx"))

  // ---------------------------------------------------------------- pivot
  // Spark's relational pivot with a FIXED value list (so both engines
  // agree on columns); DuckDB twin is the conditional-agg expansion.
  private val q44 = QueryDef(
    "q44_pivot",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("A", "qty_a")
        .withColumnRenamed("N", "qty_n")
        .withColumnRenamed("R", "qty_r")
        .orderBy("l_linestatus")
    },
    Some("""SELECT l_linestatus,
      CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
      CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
      CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""),
    covers = Seq("AGG-pivot"))

  // ------------------------------------------------------------ cube
  // Full grouping-set lattice with GROUPING() ids (rollup's big
  // sibling, q39); null keys coalesced to sentinels for identical
  // ordering in both engines.
  private val q49 = QueryDef(
    "q49_cube_grouping",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("g_rf"), col("g_ls"), col("n"), col("qty"))
        .orderBy("returnflag", "linestatus")
    },
    Some("""SELECT
        COALESCE(l_returnflag, '(all)') AS returnflag,
        COALESCE(l_linestatus, '(all)') AS linestatus,
        CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""),
    covers = Seq("AGG-cube"))

  // ------------------------------------------------------------ exact percentiles
  // Exact (sort-based) quantiles — the precise twin of q40's sketch.
  // Only dyadic fractions (k/4) so the interpolation (1-g)*lo + g*hi
  // vs lo + (b-a)*g is exact either way on the integer-valued data.
  private val q50 = QueryDef(
    "q50_exact_percentiles",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("ps"),
          count(lit(1)).as("n"))
        .select(
          col("l_returnflag"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("p50"),
          element_at(col("ps"), 3).as("p75"),
          col("n"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("AGG-percentile"))

  // ------------------------------------------------------------ corr / regression
  // Pearson correlation + least-squares line WITHOUT corr()/covar():
  // both engines' built-ins accumulate doubles in partial-agg order
  // (nondeterministic); deriving from exact decimal sums with one
  // shared final expression tree is bit-stable at any scale.
  private val q51 = QueryDef(
    "q51_corr_regression",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_discount").cast("decimal(18,2)")
      val sums = li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      val slope = cov / varx
      sums.select(
          col("l_returnflag"), col("n"), col("sx"), col("sy"),
          slope.as("slope"),
          ((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
          (cov / (sqrt(varx) * sqrt(vary))).as("corr"))
        .orderBy("l_returnflag")
    },
    Some("""WITH s AS (
        SELECT l_returnflag,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n, sx, sy,
        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
        (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS corr
      FROM s ORDER BY l_returnflag"""),
    covers = Seq("AGG-stats"))

  // ------------------------------------------------------------ RANGE frame
  // Value-based (not row-based) window frame: a 7-day trailing window
  // over possibly-gapped daily buckets — RANGE semantics differ from
  // ROWS exactly when days are missing. Integer `div` for the day
  // bucket so both engines floor identically.
  private val q53 = QueryDef(
    "q53_range_frame_window",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val daily = o
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so the cast
        // matches DuckDB's epoch_us exactly
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("d"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      // Unpartitioned value-range window — single-partition by design,
      // same caveat as W3/W7 (2.4k day rows; partition by a coarser key
      // at real scale).
      val w = Window.orderBy("d").rangeBetween(-6, 0)
      daily.select(
          col("d"), col("n"),
          sum(col("n")).over(w).cast("long").as("n_7d"),
          sum(col("tot")).over(w).cast("double").as("tot_7d"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
          CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
        FROM orders GROUP BY 1)
      SELECT d, n,
        CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
        CAST(SUM(tot) OVER w AS DOUBLE) AS tot_7d
      FROM daily WINDOW w AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY d"""),
    covers = Seq("WIN-range"))

  // ------------------------------------------------------------ argmax
  // max_by semantics with a deterministic tiebreak. The oracle keeps
  // the didactic struct-max form (lexicographic (price, key) in both
  // engines); the engine packs the SAME ordering into one monotone
  // DECIMAL — cents·10¹³ + orderkey — because a struct max buffer
  // demotes HashAggregate to SortAggregate (one extra per-partition
  // sort of the whole fact), while a DECIMAL max keeps the hash path.
  // Decode is exact: cents < 2^53, /100.0 is correctly rounded back
  // to the source's 2-decimal double. max_by() itself is avoided for
  // its nondeterministic tie handling under partitioning.
  private val q57 = QueryDef(
    "q57_argmax",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val packed = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(DecimalType(38, 0)) * lit(10000000000000L) + col("o_orderkey")
      o.groupBy(col("o_custkey"))
        .agg(max(packed).as("best"))
        .select(
          col("o_custkey"),
          (col("best") % lit(10000000000000L)).cast("long").as("top_order"),
          // integral DIV (not /): decimal / rounds HALF_UP at the cast,
          // which would leak the key part into the price for large keys
          (expr("best DIV 10000000000000").cast("double") / lit(100.0d))
            .as("top_price"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey,
        struct_extract(max(struct_pack(p := o_totalprice, k := o_orderkey)), 'k') AS top_order,
        CAST(struct_extract(max(struct_pack(p := o_totalprice, k := o_orderkey)), 'p') AS DOUBLE) AS top_price
      FROM orders GROUP BY 1 ORDER BY o_custkey"""),
    covers = Seq("AGG-argmax"))

  // ------------------------------------------------------------ window function surface
  // The ranking-family long tail: ntile buckets, cume_dist (exact
  // integer ratio → identical double), first/nth value over an
  // explicit ROWS frame.
  private val q61 = QueryDef(
    "q61_window_funcs",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val framed = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.select(
          col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("quartile"),
          cume_dist().over(w).as("cd"),
          first(col("c_custkey")).over(framed).as("poorest"),
          nth_value(col("c_custkey"), 2).over(framed).as("second_poorest"))
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some("""WITH w AS (
        SELECT c_custkey, c_mktsegment,
          NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile,
          CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS cd,
          FIRST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS poorest,
          NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_poorest
        FROM customer)
      SELECT c_custkey, c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
             cd, poorest, second_poorest
      FROM w ORDER BY c_mktsegment, c_custkey"""),
    covers = Seq("WIN-ranking-tail"))

  // ------------------------------------------------------------ ordered string agg
  // listagg/string_agg parity via the deterministic sorted-collect
  // form (array_join ∘ array_sort ∘ collect_list ≡ string_agg ORDER BY).
  private val q62 = QueryDef(
    "q62_listagg",
    (s, dir) => {
      val n = Tables.load(s, dir, "nation")
      val c = Tables.load(s, dir, "customer")
      n.join(c, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(
          array_join(array_sort(collect_list(col("c_mktsegment"))), ",").as("segs"),
          count(lit(1)).as("n"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name,
        string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      GROUP BY 1, 2 ORDER BY n_nationkey"""),
    covers = Seq("AGG-listagg"))

  // ------------------------------------------------------------ bitwise aggregates
  private val q63 = QueryDef(
    "q63_bit_aggs",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.groupBy(col("event_type"))
        .agg(
          bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(bit_and(user_id) AS BIGINT) AS band,
        CAST(bit_or(user_id) AS BIGINT) AS bor,
        CAST(bit_xor(user_id) AS BIGINT) AS bxor,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1 ORDER BY 1"""),
    covers = Seq("AGG-bitwise"))

  // ------------------------------------------------------------ explicit grouping sets
  // Arbitrary grouping-set lattice (not the cube/rollup specials of
  // q49/q39): per-nation totals, per-(flag,status) totals, and the
  // grand total in ONE pass — Catalyst plans a single Expand, reading
  // the join output once instead of three aggregation jobs.
  private val q67 = QueryDef(
    "q67_grouping_sets",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name")),
            Seq(col("l_returnflag"), col("l_linestatus")),
            Seq.empty[Column]),
          col("n_name"), col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .select(
          coalesce(col("n_name"), lit("(all)")).as("nation"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("revenue"))
        .orderBy("nation", "returnflag", "linestatus")
    },
    Some("""SELECT
        COALESCE(n_name, '(all)') AS nation,
        COALESCE(l_returnflag, '(all)') AS returnflag,
        COALESCE(l_linestatus, '(all)') AS linestatus,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY GROUPING SETS ((n_name), (l_returnflag, l_linestatus), ())
      ORDER BY nation, returnflag, linestatus"""),
    covers = Seq("AGG-groupingsets"))

  // ------------------------------------------------------------ equi-width histogram
  // Distribution profiling in two passes (min/max scan → binning
  // scan), the bin edge computed with the SAME double expression tree
  // in both engines so the floor never disagrees; the top edge folds
  // into the last bin (least(_, 9)).
  private val q73 = QueryDef(
    "q73_histogram",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val bounds = o.agg(
        min(col("o_totalprice")).cast("double").as("mn"),
        max(col("o_totalprice")).cast("double").as("mx"))
      o.crossJoin(broadcast(bounds))
        .select(least(
            floor((col("o_totalprice") - col("mn")) /
              ((col("mx") - col("mn")) / 10)), lit(9)).cast("long").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("bin")
    },
    Some("""WITH b AS (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
                        CAST(MAX(o_totalprice) AS DOUBLE) AS mx FROM orders),
      binned AS (
        SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bin
        FROM orders CROSS JOIN b)
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY bin ORDER BY bin"""),
    covers = Seq("AGG-histogram"))

  // ------------------------------------------------------------ median + mode
  // median() (exact, interpolated — dyadic midpoints so both engines
  // agree bitwise) and a DETERMINISTIC mode: built-in mode() breaks
  // ties arbitrarily, so the gateable form is argmax over (count,
  // value) structs — ties go to the larger value in both engines.
  private val q79 = QueryDef(
    "q79_median_mode",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val med = li.groupBy(col("l_returnflag").as("flag"))
        .agg(median(col("l_quantity")).as("med_qty"))
      val cnt = li.groupBy(col("l_returnflag").as("flag"), col("l_linenumber").as("v"))
        .agg(count(lit(1)).as("c"))
      val mode = cnt.groupBy("flag")
        .agg(max(struct(col("c"), col("v"))).as("mx"))
        .select(col("flag"), col("mx").getField("v").as("mode_ln"))
      med.join(mode, "flag").orderBy("flag")
    },
    Some("""WITH cnt AS (SELECT l_returnflag AS flag, l_linenumber AS v, COUNT(*) AS c
               FROM lineitem GROUP BY 1, 2)
      SELECT m.flag, m.med_qty, struct_extract(x.mx, 'v') AS mode_ln FROM
       (SELECT l_returnflag AS flag, median(l_quantity) AS med_qty
        FROM lineitem GROUP BY 1) m
       JOIN (SELECT flag, max(struct_pack(c := c, v := v)) AS mx
             FROM cnt GROUP BY flag) x USING (flag)
      ORDER BY flag"""),
    covers = Seq("AGG-median-mode"))

  // ------------------------------------------------------------ session_window
  // Native session windows in batch: groupBy(session_window(ts, gap))
  // — one shuffle on the user key, no window-function pass (q42 gates
  // the flag + running-sum formulation; this gates the operator).
  // Spark merges an event into a session iff it lands strictly before
  // session_end (= last event + gap), so the oracle's new-session
  // test is `diff >= gap`, unlike q42's `>`.
  private val q84 = QueryDef(
    "q84_session_window",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
      e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .select(
          col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start_us")
    },
    Some("""WITH ordered AS (
        SELECT user_id, ts, event_id, value,
          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev IS NULL
            OR epoch_us(ts) - epoch_us(prev) >= 30*60*1000000 THEN 1 ELSE 0 END AS new_s
        FROM ordered),
      numbered AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id,
        epoch_us(MIN(ts)) AS session_start_us,
        epoch_us(MAX(ts)) + 30*60*1000000 AS session_end_us,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM numbered GROUP BY user_id, sid
      ORDER BY user_id, session_start_us"""),
    covers = Seq("W-session-window"))

  // ------------------------------------------------------------ incremental aggregate maintenance
  // store/AggTable's mergeable-partials core under the oracle gate:
  // events arrive as three disjoint batches (event_id % 3), each is
  // aggregated alone, the partials fold pairwise — and the finished
  // result hash-matches DuckDB's ONE-PASS aggregate of the whole
  // table. Exact DECIMAL sums make the maintained view bit-identical
  // no matter how the data was batched; at 100 TB each refresh costs
  // O(new batch + touched groups), never a corpus rescan.
  private val q94 = QueryDef(
    "q94_incremental_agg",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val spec = graft.store.AggSpec(Seq("event_type"), Seq("value"))
      val parts = (0 until 3).map(i => spec.partial(e.filter(col("event_id") % 3 === i)))
      spec.finish(parts.reduce(spec.merge)).orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
      MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY 1 ORDER BY 1"""),
    covers = Seq("AGG-incremental-maintenance"))

  // ------------------------------------------------------------ mergeable HLL sketches
  // Incremental DISTINCT-count maintenance: exact distincts do not
  // merge (|A ∪ B| ≠ |A| + |B|), so an incrementally-maintained
  // count-distinct view stores DataSketches HLL state instead —
  // per-batch hll_sketch_agg partials fold with hll_union_agg exactly
  // like q94's decimal sums, and the estimate is read at the end.
  // Unlike the decimal sums the fold is not bit-invariant to batching
  // (a union densifies the sketch), but the drift is bounded by the
  // sketch's error. DuckDB has no compatible sketch, so the gate pins
  // the BOUNDS instead of the estimate: exact distincts (both engines
  // compute those) plus flags asserting the folded estimate sits
  // within 5% of exact and within 1% of the one-shot sketch
  // (HllSketchSpec's two bounds). Sketches are deterministic for
  // fixed data → the flags are stable and the oracle pins them to 1.
  private val q96 = QueryDef(
    "q96_hll_incremental_distinct",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val parts = (0 until 3).map(i =>
        e.filter(col("event_id") % 3 === i)
          .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk")))
      val folded = parts.reduce(_ unionByName _)
        .groupBy("event_type").agg(hll_union_agg(col("sk")).as("sk"))
        .select(col("event_type"), hll_sketch_estimate(col("sk")).as("estf"))
      val oneshot = e.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est1"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
      exact.join(folded, Seq("event_type")).join(oneshot, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("estf").cast("double") - col("n_users")) <=
            col("n_users") * 0.05).cast("long").as("fold_within_5pct"),
          (abs(col("estf").cast("double") - col("est1").cast("double")) <=
            col("est1").cast("double") * 0.01)
            .cast("long").as("fold_matches_oneshot_1pct"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(1 AS BIGINT) AS fold_within_5pct,
        CAST(1 AS BIGINT) AS fold_matches_oneshot_1pct
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("AGG-sketch-incremental"))

  // ----------------------------------------------- windowed distinct counts
  // COUNT(DISTINCT) as a window function — Spark's window operator
  // does not support DISTINCT aggregates, so the idiomatic form is
  // size(collect_set() OVER w): per-order distinct suppliers and
  // return flags on every line item, no self-join.
  private val q104 = QueryDef(
    "q104_windowed_distinct",
    (s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          size(collect_set(col("l_suppkey")).over(w)).cast(LongType).as("n_supp"),
          size(collect_set(col("l_returnflag")).over(w)).cast(LongType).as("n_flags"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
        CAST(count(distinct l_suppkey) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_supp,
        CAST(count(distinct l_returnflag) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_flags
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("W-distinct", "A3"))

  // ------------------------------------------------------------------ EWMA
  // Exponentially weighted moving average (α = 1/2) over each user's
  // last 16 event values: the frame-ordered value list folds through
  // (acc + x)/2 — a SEQUENTIAL reduction, so the IEEE tree is fixed
  // (windowed SUM would be partial-agg-order nondeterministic), and
  // dividing by 2 is exponent arithmetic (exact), so both engines
  // produce identical bits. The time-series smoothing primitive
  // alongside q07's flat rolling mean and q83's interpolation.
  private val q108 = QueryDef(
    "q108_ewma",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-15, Window.currentRow)
      val l = col("l")
      Tables.load(s, dir, "events")
        .withColumn("l", collect_list(col("value")).over(w))
        .select(col("event_id"), col("user_id"),
          aggregate(slice(l, 2, 1000), element_at(l, 1),
            (acc, x) => (acc + x) / 2).as("ewma"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT event_id, user_id,
        list_reduce(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW), (acc, x) -> (acc + x)/2) AS ewma
      FROM events ORDER BY user_id, event_id"""),
    covers = Seq("W-ewma", "W1"))

  // ------------------------------------------------------ windowed quantiles
  // Exact percentiles as WINDOW functions (no group-collapse): per-order
  // median quantity/price on every line item. Fraction choices keep the
  // interpolation bit-identical across engines: 0.5 of doubles (halving
  // is exact and round(a+b)/2 = round((a+b)/2)), 0.25 of the integer
  // quantities (dyadic interpolation of small ints is exact, the q50
  // argument).
  private val q116 = QueryDef(
    "q116_windowed_quantiles",
    (s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          percentile(col("l_quantity"), lit(0.5)).over(w).as("med_qty"),
          percentile(col("l_quantity"), lit(0.25)).over(w).as("q1_qty"),
          percentile(col("l_extendedprice"), lit(0.5)).over(w).as("med_price"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
        quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_orderkey) AS med_qty,
        quantile_cont(l_quantity, 0.25) OVER (PARTITION BY l_orderkey) AS q1_qty,
        quantile_cont(l_extendedprice, 0.5) OVER (PARTITION BY l_orderkey) AS med_price
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("W-quantile"))

  // ---------------------------------------------------------- outer explode
  // explode_outer: unnesting that PRESERVES rows whose array is empty
  // (plain explode silently drops them — the subtle row-loss bug in
  // naive token pipelines). Null results ordered via sentinel so both
  // engines agree (Spark sorts NULLS FIRST, DuckDB LAST).
  private val q122 = QueryDef(
    "q122_explode_outer",
    (s, dir) => {
      val arr = Tables.load(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => length(w) > 6).as("rare"))
      arr.select(col("doc_id"), explode_outer(col("rare")).as("rare_word"))
        .orderBy(col("doc_id"), coalesce(col("rare_word"), lit("~")))
    },
    Some("""WITH arr AS (
        SELECT doc_id, list_filter(string_split(text,' '), w -> len(w) > 6) AS rare
        FROM documents WHERE doc_id < 40)
      SELECT a.doc_id, u.w AS rare_word
      FROM arr a LEFT JOIN (SELECT doc_id, unnest(rare) AS w FROM arr) u
        ON a.doc_id = u.doc_id
      ORDER BY a.doc_id, coalesce(u.w, '~')"""),
    covers = Seq("A6-outer"))

  // ---------------------------------------------------- tumbling windows
  // Arbitrary-interval time bucketing with the native window()
  // function (15-minute tumbling) — the batch twin of the streaming
  // windowedCounts, epoch-aligned exactly like DuckDB's time_bucket.
  private val q123 = QueryDef(
    "q123_time_bucket",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type"),
    Some("""SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS w_start, event_type,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A5-interval"))

  // -------------------------------------------------------- hopping windows
  // Overlapping (hopping) windows: 30-minute length sliding by 15 —
  // every event lands in TWO buckets via the native window() fan-out;
  // the oracle builds the same fan-out with an explicit 2-offset
  // unnest. Completes the window family (tumbling q123, session q84).
  private val q129 = QueryDef(
    "q129_hopping_window",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type"),
    Some("""WITH hop AS (
        SELECT event_type,
          time_bucket(INTERVAL 15 MINUTE, ts) - o * INTERVAL 15 MINUTE AS w_start
        FROM events, (SELECT unnest(range(0, 2)) AS o))
      SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n
      FROM hop GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A5-hopping"))

  // ------------------------------------------------- forward-looking frame
  // A strictly-ahead window frame (1 FOLLOWING..3 FOLLOWING): look-ahead
  // aggregation whose frame EXCLUDES the current row — empty frames at
  // partition tails must yield NULL sums and 0 counts, pinned.
  private val q135 = QueryDef(
    "q135_forward_frame",
    (s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in this corpus (q110
      // proves it) — the window order needs the full attribute
      // tiebreak, and rows identical on every sort column are
      // interchangeable (same quantity ⇒ same frame sums)
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_suppkey", "l_partkey", "l_quantity", "l_extendedprice")
        .rowsBetween(1, 3)
      Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"),
          sum(col("l_quantity").cast(LongType)).over(w).as("qty_ahead"),
          count(lit(1)).over(w).as("n_ahead"))
        .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "qty_ahead", "n_ahead")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_suppkey,
        CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice
          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS qty_ahead,
        CAST(count(*) OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice
          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS n_ahead
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_suppkey, qty_ahead, n_ahead"""),
    covers = Seq("W-forward-frame"))

  // ---------------------------------------------------- gaps and islands
  // Consecutive-day activity streaks (gaps-and-islands): date minus
  // per-user row_number is constant within an unbroken run, so one
  // window pass + one group-by finds every island — no self-joins, no
  // iteration. Streak analytics over integer date arithmetic.
  private val q137 = QueryDef(
    "q137_streaks",
    (s, dir) => {
      val days = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val anchor = date_sub(col("d"),
        row_number().over(Window.partitionBy("user_id").orderBy("d")))
      days.withColumn("anchor", anchor)
        .groupBy("user_id", "anchor")
        .agg(min(col("d")).as("streak_start"), max(col("d")).as("streak_end"),
          count(lit(1)).as("streak_days"))
        .filter(col("streak_days") >= 3)
        .select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy("user_id", "streak_start")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d FROM events),
      grp AS (SELECT user_id, d,
        CAST(d AS DATE) - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
          AS INTEGER) AS anchor
        FROM days)
      SELECT user_id, min(d) AS streak_start, max(d) AS streak_end,
        CAST(count(*) AS BIGINT) AS streak_days
      FROM grp GROUP BY user_id, anchor
      HAVING count(*) >= 3
      ORDER BY user_id, streak_start"""),
    covers = Seq("W-islands"))

  // ---------------------------------------------- cumulative distinct users
  // Running count of DISTINCT users over time — windows cannot count
  // distinct cumulatively, so the scalable form is the
  // first-occurrence trick: each user contributes on their first day
  // only, and a running SUM of those contributions IS the cumulative
  // distinct count. O(n) instead of re-deduping every prefix.
  private val q138 = QueryDef(
    "q138_cumulative_distinct",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val daily = e.groupBy("user_id").agg(to_date(min(col("ts"))).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_new"))
      val allDays = e.select(to_date(col("ts")).as("d")).distinct()
      val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
      allDays.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_unique_users", sum(col("n_new")).over(w))
        .orderBy("d")
    },
    Some("""WITH firsts AS (
        SELECT CAST(min(ts) AS DATE) AS d FROM events GROUP BY user_id),
      daily AS (SELECT d, CAST(count(*) AS BIGINT) n_new FROM firsts GROUP BY d),
      alldays AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
      SELECT a.d, coalesce(n_new, 0) AS n_new,
        CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY a.d ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cum_unique_users
      FROM alldays a LEFT JOIN daily ON a.d = daily.d
      ORDER BY a.d"""),
    covers = Seq("W-cumulative-distinct", "A3"))

  // ---------------------------------------- distribution window functions
  // ntile / percent_rank / cume_dist — the distribution tail of the
  // window surface (q61 gates the navigation tail). The window is
  // computed over the FULL partition and only the output is
  // decimated, so the gate exercises real partition-wide state.
  // percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single
  // int/int double divisions — bit-identical across engines; ntile is
  // INT in Spark, BIGINT in DuckDB → cast Spark side.
  private val q140 = QueryDef(
    "q140_dist_windows",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .filter(col("o_orderkey") % 50 === 0)
        .orderBy("o_orderpriority", "o_orderkey")
    },
    Some("""SELECT * FROM (
        SELECT o_orderpriority, o_orderkey,
          CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
      WHERE o_orderkey % 50 = 0
      ORDER BY o_orderpriority, o_orderkey"""),
    covers = Seq("W-distribution"))

  // ------------------------------------------------------- interval merge
  // Union of overlapping intervals (30-min activity windows per
  // user): the classic coverage question — how many distinct
  // episodes, how much wall-clock covered — solved with the
  // cumulative-max island trick in exact microsecond integers. One
  // shuffle on the partition key; no self-join.
  private val q149 = QueryDef(
    "q149_interval_merge",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("st", "en")
      val iv = Tables.load(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) + 1800L * 1000000L).as("en"))
      iv.withColumn("new_island",
          when(col("st") > max(col("en")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)), 1).otherwise(0))
        .withColumn("island", sum(col("new_island")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min(col("st")).as("s"), max(col("en")).as("e"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_episodes"), sum(col("e") - col("s")).as("tot_us"))
        .select(col("user_id"), col("n_episodes"),
          expr("tot_us DIV 1000000").as("covered_s"))
        .orderBy("user_id")
    },
    Some("""WITH iv AS (
        SELECT user_id, epoch_us(ts) s, epoch_us(ts) + 1800 * 1000000 e FROM events),
      m AS (
        SELECT user_id, s, e,
          CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS new_island
        FROM iv),
      g AS (
        SELECT user_id, s, e,
          SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM m),
      isl AS (SELECT user_id, island, min(s) st, max(e) en FROM g GROUP BY 1, 2)
      SELECT user_id, CAST(count(*) AS BIGINT) n_episodes,
        CAST(SUM(en - st) // 1000000 AS BIGINT) covered_s
      FROM isl GROUP BY 1 ORDER BY 1"""),
    covers = Seq("W-islands", "P6"))

  // -------------------------------------------------- TPC-H Q18 shape
  // Large-volume customers: HAVING-filtered aggregate over the fact
  // (orders whose lineitems sum past a quantity threshold) joined back
  // to the order/customer detail. The aggregate-then-join pattern:
  // the group-by collapses lineitem to one row per order BEFORE any
  // join, so the join input is already small — at 100 TB the
  // alternative (join first, aggregate later) is strictly worse.
  private val q155 = QueryDef(
    "q155_tpch_q18",
    (s, dir) => {
      val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      FROM (SELECT l_orderkey,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300) big
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100"""),
    covers = Seq("A4", "SUBQ-having"))

  // --------------------------------------- count-min heavy hitters
  // The frequency member of the engine's mergeable-sketch family
  // (Bloom: membership, HLL: distinct, MinHash: similarity — CMS:
  // counts): ONE pass builds the sketch (partials merge associatively
  // across partitions, so the build is shuffle-free until the final
  // combine), then the candidate terms probe it via the native
  // [[graft.functions.CmsEstimate]] expression. At 100 TB the exact
  // per-term count requires a full groupBy shuffle; the sketch answers
  // "how often does THIS term occur" from kilobytes of state. Exact
  // counts ride along so the gate enforces the estimate-vs-exact
  // contract IN the oracle: CMS never undercounts (cms_n ≥ exact_n,
  // structural) and overcounts by at most eps·N with the sketch's
  // confidence (N = total token count — exact, both engines compute
  // it). The sketch binary itself can't hash-match DuckDB, but these
  // two flags can, and the seed makes them deterministic; the
  // estimate column is replaced by the bound flags the oracle pins
  // to 1 (the raw estimate remains covered by CmsSketchSpec).
  private val q160 = QueryDef(
    "q160_cms_heavy_hitters",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val sketch = tok.agg(expr("count_min_sketch(w, 0.0001d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n_total"))
      val top = tok.groupBy("w").agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), col("w")).limit(20)
      top.crossJoin(broadcast(sketch))
        .select(col("w"), col("exact_n"),
          graft.functions.CmsEstimate(s, col("sk"), col("w")).as("cms_n"),
          col("n_total"))
        .select(col("w"), col("exact_n"),
          (col("cms_n") >= col("exact_n")).cast("long").as("cms_ge_exact"),
          (col("cms_n").cast("double") <=
            col("exact_n") + col("n_total").cast("double") * 0.0001)
            .cast("long").as("cms_within_eps"))
        .orderBy(desc("exact_n"), col("w"))
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
          FROM documents),
      top AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM tok GROUP BY w ORDER BY exact_n DESC, w LIMIT 20)
      SELECT w, exact_n,
        CAST(1 AS BIGINT) AS cms_ge_exact,
        CAST(1 AS BIGINT) AS cms_within_eps
      FROM top ORDER BY exact_n DESC, w"""),
    covers = Seq("SKETCH-cms"))

  // ------------------------------------- EXCLUDE CURRENT ROW emulation
  // Leave-one-out rolling stats: each day's revenue against the
  // surrounding ±3-day window EXCLUDING itself — the anomaly-baseline
  // window shape. Spark has no EXCLUDE clause, so the engine computes
  // the full ±3 frame once and subtracts the current row (sum − x,
  // count − 1): same single window pass, two extra codegen'd
  // arithmetic ops, NO second frame. The oracle uses DuckDB's native
  // `EXCLUDE CURRENT ROW` — hash-equality proves the emulation exact.
  // Sums are DECIMAL so the subtraction is exact; the loo average is
  // one shared double division.
  private val q165 = QueryDef(
    "q165_window_exclude",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.partitionBy("prio").orderBy("d").rowsBetween(-3, 3)
      daily
        .withColumn("frame_rev", sum(col("rev")).over(w).cast(DecimalType(38, 2)))
        .withColumn("frame_n", count(lit(1)).over(w))
        .select(col("prio"), col("d"),
          col("rev").cast("double").as("rev"),
          (col("frame_rev") - col("rev")).cast("double").as("loo_rev"),
          ((col("frame_rev") - col("rev")).cast("double") /
            (col("frame_n") - 1)).as("loo_avg"))
        .filter(dayofmonth(col("d")) === 1)
        .orderBy("prio", "d")
    },
    Some("""WITH daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2),
      loo AS (
        SELECT prio, d, rev,
          SUM(rev) OVER w_ex AS loo_rev,
          COUNT(*) OVER w_ex AS loo_n
        FROM daily
        WINDOW w_ex AS (PARTITION BY prio ORDER BY d
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW))
      SELECT prio, d, CAST(rev AS DOUBLE) AS rev,
        CAST(loo_rev AS DOUBLE) AS loo_rev,
        CAST(loo_rev AS DOUBLE) / loo_n AS loo_avg
      FROM loo WHERE date_part('day', d) = 1
      ORDER BY prio, d"""),
    covers = Seq("W-exclude"))

  // ------------------------------------- timestamp-interval RANGE frame
  // RANGE BETWEEN INTERVAL ... PRECEDING over an actual timestamp
  // ORDER BY — the value-based frame where gaps in the calendar
  // matter (q53 gates the numeric-epoch emulation; this is the
  // native SQL-syntax form on both engines). Trailing 7-day revenue
  // per priority over gapped daily buckets; sums stay DECIMAL inside
  // the frame, surfaced once as double.
  private val q178 = QueryDef(
    "q178_interval_frame",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH daily AS (
          SELECT o_orderpriority AS prio, to_date(o_orderdate) AS d,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1, 2),
        fr AS (
          SELECT prio, d, rev,
            SUM(rev) OVER w AS rev_7d,
            COUNT(*) OVER w AS n_days_7d
          FROM daily
          WINDOW w AS (PARTITION BY prio ORDER BY CAST(d AS TIMESTAMP)
            RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW))
        SELECT prio, d, CAST(rev AS DOUBLE) AS rev,
          CAST(rev_7d AS DOUBLE) AS rev_7d, n_days_7d
        FROM fr WHERE day(d) = 1
        ORDER BY prio, d""")
    },
    Some("""WITH daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2),
      fr AS (
        SELECT prio, d, rev,
          SUM(rev) OVER w AS rev_7d,
          CAST(COUNT(*) OVER w AS BIGINT) AS n_days_7d
        FROM daily
        WINDOW w AS (PARTITION BY prio ORDER BY CAST(d AS TIMESTAMP)
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW))
      SELECT prio, d, CAST(rev AS DOUBLE) AS rev,
        CAST(rev_7d AS DOUBLE) AS rev_7d, n_days_7d
      FROM fr WHERE date_part('day', d) = 1
      ORDER BY prio, d"""),
    covers = Seq("W-interval-frame"))

  // ------------------------------------------- bitmap distinct count
  // Exact distinct counting without a distinct shuffle: users bucket
  // into 63-wide ranges (bit 63 stays clear — DuckDB checks shift
  // overflow), each (type, bucket) group OR-accumulates one BIGINT
  // bitmap, popcounts sum to the exact distinct count. The
  // roaring-bitmap idea in relational form: state is
  // O(range/63) bits per key instead of O(distinct) 8-byte hash
  // entries, the bitmap OR is associative+commutative (partial
  // aggregation works), and two engines' bitmaps agree bit-for-bit.
  // The oracle runs plain COUNT(DISTINCT) — hash equality proves the
  // bitmap path exact, not approximate.
  private val q199 = QueryDef(
    "q199_bitmap_distinct",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.select(col("event_type"),
          expr("user_id div 63").as("bucket"),
          expr("shiftleft(1L, int(user_id % 63))").as("bit"))
        .groupBy("event_type", "bucket")
        .agg(bit_or(col("bit")).as("bits"))
        .groupBy("event_type")
        .agg(
          sum(bit_count(col("bits")).cast("long")).as("n_distinct_users"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
        CAST(COUNT(DISTINCT user_id // 63) AS BIGINT) AS n_buckets
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("AGG-bitmap-distinct"))

  // ------------------------------------------- association rules
  // Market-basket mining over the order fact: parts co-purchased in
  // one order pair up IN-ROW — one shuffle collects each order's
  // part set (bounded: ≤7 items/order), a sorted-set slice expansion
  // emits the <-ordered pairs without any self-join, and the only
  // data-sized exchanges left are the basket build and the pair
  // count (a per-order self-join costs an extra distinct + join
  // shuffle and measured ~2× slower). Confidence and lift divide
  // exact integer counts in ONE IEEE division each (hash-safe);
  // collect_set makes a twice-bought part count once, so pair
  // support means "orders containing both".
  private val q200 = QueryDef(
    "q200_copurchase_rules",
    (s, dir) => {
      // All three frames derive from the session-cached order-part
      // base: the pair table IS the shared weighted co-purchase graph
      // (q200's in-row basket expansion produced the identical
      // (a < b, count) set), item counts and the order total are one
      // aggregate each over the cached distinct frame.
      val op = GraphGateSource.orderPartDistinct(s, dir)
      val nOrders = op.agg(countDistinct(col("o")).as("n_orders"))
      val counts = op.groupBy(col("p").as("pk"))
        .agg(count(lit(1)).as("n_item"))
      val pairs = GraphGateSource.copurchaseW(s, dir)
        .select(col("u").as("part_a"), col("v").as("part_b"),
          col("w").as("n_ab"))
      pairs
        .join(counts.select(col("pk").as("part_a"), col("n_item").as("n_a")), "part_a")
        .join(counts.select(col("pk").as("part_b"), col("n_item").as("n_b")), "part_b")
        .crossJoin(nOrders)
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf_a"),
          ((col("n_ab") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(desc("n_ab"), col("part_a"), col("part_b"))
        .limit(20)
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
      counts AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY pk),
      pairs AS (
        SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      SELECT part_a, part_b, n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
        CAST(n_ab AS DOUBLE) / CAST(ca.n_item AS DOUBLE) AS conf_a,
        CAST(n_ab * n_orders AS DOUBLE) / CAST(ca.n_item * cb.n_item AS DOUBLE) AS lift
      FROM pairs
      JOIN counts ca ON part_a = ca.pk
      JOIN counts cb ON part_b = cb.pk
      CROSS JOIN n
      ORDER BY n_ab DESC, part_a, part_b LIMIT 20"""),
    covers = Seq("AGG-association-rules"))

  // --------------------------------------- sliding-window exact distinct
  // Exact 7-day-rolling active users. Sliding distinct has no
  // window-function form (first-occurrence tricks only work for
  // CUMULATIVE distinct, q138) — the scalable shape is bounded
  // fan-out: each (user, day) emits the 7 report-days it is visible
  // to, then one distinct aggregate per report-day. Linear in
  // (user, day) pairs × window width, no per-day rescan, no
  // quadratic self-join; the trailing fan past the last real day is
  // semi-joined away.
  private val q202 = QueryDef(
    "q202_sliding_distinct",
    (s, dir) => {
      val ud = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val days = ud.select(col("d").as("report_d")).distinct()
      val fan = ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("report_d"))
      fan.join(days, Seq("report_d"), "left_semi")
        .groupBy("report_d")
        .agg(countDistinct(col("user_id")).as("n_active_7d"))
        .orderBy("report_d")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      days AS (SELECT DISTINCT d AS report_d FROM ud),
      fan AS (
        SELECT user_id, d + CAST(i AS INTEGER) AS report_d
        FROM ud, (SELECT unnest(generate_series(0, 6)) AS i))
      SELECT f.report_d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_7d
      FROM fan f JOIN days USING (report_d)
      GROUP BY 1 ORDER BY report_d"""),
    covers = Seq("WIN-sliding-distinct"))

  // ------------------------------------- top-k as a mergeable aggregate
  // graft.functions.ExactTopK under the gate: top-3 order totals per
  // priority class via the TypedImperativeAggregate (bounded min-heap
  // state, map-side combine ships ≤k values per group instead of the
  // group's rows — the winning shape for tiny k over huge groups; the
  // window row_number form is gated separately as q58). Cents-exact
  // DECIMAL→BIGINT values; the oracle slices DuckDB's descending
  // ordered list aggregate.
  private val q212 = QueryDef(
    "q212_topk_aggregate",
    (s, dir) => {
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), cents.as("cents"))
        .groupBy("o_orderpriority")
        .agg(
          graft.functions.ExactTopK(s, col("cents"), 3).as("topk"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"),
          array_join(transform(col("topk"), _.cast("string")), ",").as("top3"),
          col("n"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
        array_to_string(
          (list(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC))[:3],
          ',') AS top3,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("AGG-typed-imperative-topk"))

  // ------------------------------------------- numeric RANGE frames
  // Value-based window frames on a NUMERIC order key: for each
  // customer, how many same-nation peers sit within 100 currency
  // units below their balance, and their summed balance — RANGE
  // BETWEEN 10000 PRECEDING AND CURRENT ROW over exact cents (q178
  // gates the time-interval twin, q53 the epoch emulation). Peers
  // with EQUAL balance all join the frame (RANGE, not ROWS) — the
  // semantic the gate pins. Output decimated to every 20th customer.
  private val q215 = QueryDef(
    "q215_numeric_range_frame",
    (s, dir) => {
      val cents = (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
      val w = Window.partitionBy("c_nationkey").orderBy("cents")
        .rangeBetween(-10000, 0)
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("cents"))
        .withColumn("n_near", count(lit(1)).over(w))
        .withColumn("sum_near", sum(col("cents")).over(w))
        .filter(col("c_custkey") % 20 === 0)
        .select("c_custkey", "c_nationkey", "n_near", "sum_near")
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (
        SELECT c_custkey, c_nationkey,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM customer)
      SELECT c_custkey, c_nationkey,
        CAST(COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY cents
          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_near,
        CAST(SUM(cents) OVER (PARTITION BY c_nationkey ORDER BY cents
          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_near
      FROM c QUALIFY c_custkey % 20 = 0
      ORDER BY c_custkey"""),
    covers = Seq("WIN-numeric-range-frame"))

  // ------------------------------------------- native bitmap aggregates
  // Spark's built-in bitmap family (bitmap_bucket_number /
  // bitmap_bit_position / bitmap_construct_agg / bitmap_count) doing
  // exact distinct users per event type — the engine-native twin of
  // q199's hand-rolled 63-bit bitmaps, proven against plain
  // COUNT(DISTINCT). Buckets hold 32k bits, state is OR-mergeable
  // binary, and the final count sums per-bucket popcounts.
  private val q216 = QueryDef(
    "q216_native_bitmap_agg",
    (s, dir) => {
      // user_id + 1 keeps the 1-based bitmap positions strictly
      // positive for a 0-based id space
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id + 1)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id + 1))").as("bm"))
        .groupBy("event_type")
        .agg(
          sum(expr("bitmap_count(bm)")).as("n_distinct_users"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
        CAST(COUNT(DISTINCT user_id // 32768) AS BIGINT) AS n_buckets
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("AGG-native-bitmap"))

  // ----------------------------------------------------- TPC-H Q6
  // Forecasting-revenue change: the purest pushdown showcase — a
  // single fact scan whose THREE predicates (ship year, discount
  // band, quantity cap) all reach the parquet reader as pushed
  // filters, then one global DECIMAL sum. No join, no shuffle beyond
  // the final single-row reduce; at 100 TB this is bounded by scan
  // bandwidth alone, with row-group min/max stats skipping most of
  // the year range. Discounts are 2-decimal, so the band compare is
  // exact in DECIMAL.
  private val q221 = QueryDef(
    "q221_tpch_q6",
    (s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          dec(col("l_discount")) >= lit("0.05").cast(DecimalType(18, 2)) &&
          dec(col("l_discount")) <= lit("0.07").cast(DecimalType(18, 2)) &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"))
        .select(col("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""),
    covers = Seq("A7"))

  // ----------------------------------------------------- TPC-H Q12
  // Shipping-delay priority mix (shipmode → delay-bucket adaptation):
  // one lineitem⋈orders equi-join, lines bucketed by ship delay
  // (early / within-60d / slow), per-bucket counts of critical
  // (URGENT/HIGH) vs other order priorities — TPC-H Q12's
  // conditional-count-over-join, with the bucket CASE evaluated
  // per-row inside the join projection. Integer day arithmetic only.
  private val q222 = QueryDef(
    "q222_tpch_q12",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipdate")
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      val crit = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          when(delay < 0, "early").when(delay <= 60, "normal")
            .otherwise("slow").as("delay_bucket"),
          when(crit, 1L).otherwise(0L).as("is_crit"))
        .groupBy("delay_bucket")
        .agg(
          sum(col("is_crit")).as("high_line_count"),
          sum(lit(1L) - col("is_crit")).as("low_line_count"))
        .orderBy("delay_bucket")
    },
    Some("""SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) < 0 THEN 'early'
                 WHEN datediff('day', o_orderdate, l_shipdate) <= 60 THEN 'normal'
                 ELSE 'slow' END AS delay_bucket,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1 ORDER BY delay_bucket"""),
    covers = Seq("A2", "J1"))

  // ----------------------------------------------------- TPC-H Q1
  // Pricing summary report: the canonical scan-heavy aggregate — one
  // fact pass, 4 decimal sums + 3 averages + a count per
  // (returnflag, linestatus). Everything partial-aggregates map-side
  // into ~6 groups, so at 100 TB the cost is the scan alone. Charge
  // = price·(1−disc)·(1+tax) is kept exact by re-casting the scale-4
  // product to DECIMAL(24,4) before the scale-2 tax factor (30,6 —
  // inside 38); averages are ONE double division from exact sums.
  private val q233 = QueryDef(
    "q233_tpch_q1",
    (s, dir) => {
      val one = lit("1.00").cast(DecimalType(18, 2))
      val discPrice = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
      val charge = discPrice.cast(DecimalType(24, 4)) *
        (one + dec(col("l_tax"))).cast(DecimalType(5, 2))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).as("__sq"),
          sum(dec(col("l_extendedprice"))).as("__sp"),
          sum(discPrice).as("__sdp"),
          sum(charge).as("__sc"),
          sum(dec(col("l_discount"))).as("__sd"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("__sq").cast("double").as("sum_qty"),
          col("__sp").cast("double").as("sum_base_price"),
          d4ToDouble(col("__sdp")).as("sum_disc_price"),
          d6ToDouble(col("__sc")).as("sum_charge"),
          (col("__sq").cast("double") / col("count_order").cast("double")).as("avg_qty"),
          (col("__sp").cast("double") / col("count_order").cast("double")).as("avg_price"),
          (col("__sd").cast("double") / col("count_order").cast("double")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(24,4)) *
                 CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(5,2))) AS DOUBLE)
          AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS avg_disc,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    covers = Seq("A1", "A4"))

  // ----------------------------------------------------- TPC-H Q9
  // Product-type profit: profit per (nation, order year) over the
  // parts matching a name word, amount = price·(1−disc) − cost·qty
  // (cost stands in via p_retailprice — no partsupp). Part and
  // supplier→nation broadcast onto the fact; the single data-sized
  // exchange is lineitem⋈orders on orderkey. Both products are
  // scale-4 DECIMAL so the sum is exact; surfaced via the two-step
  // cast.
  private val q235 = QueryDef(
    "q235_tpch_q9",
    (s, dir) => {
      val one = lit("1.00").cast(DecimalType(18, 2))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      val sn = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val o = Tables.load(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"))
      val amount = dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) -
        dec(col("p_retailprice")) * dec(col("l_quantity"))
      Tables.load(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(amount).as("__profit"))
        .select(col("n_name"), col("o_year"),
          d4ToDouble(col("__profit")).as("sum_profit"))
        .orderBy(col("n_name"), desc("o_year"))
    },
    Some("""SELECT n_name, o_year, CAST(sum_profit AS DOUBLE) AS sum_profit
      FROM (
        SELECT n_name, EXTRACT(YEAR FROM o_orderdate) AS o_year,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2))) -
                   CAST(p_retailprice AS DECIMAL(18,2)) *
                     CAST(l_quantity AS DECIMAL(18,2))) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2)
      ORDER BY n_name, o_year DESC"""),
    covers = Seq("A1", "J1"))

  // ----------------------------------------------------- TPC-H Q16
  // Parts/supplier relationship: how many distinct suppliers trade
  // each surviving (brand, type, size) combination, excluding
  // flagged suppliers — the NOT-IN + COUNT DISTINCT shape. The
  // distinct traded pairs are one fact exchange; the part filter
  // broadcasts; the NOT IN becomes a broadcast anti-join (the
  // excluded-supplier set is dim-sized).
  private val q238 = QueryDef(
    "q238_tpch_q16",
    (s, dir) => {
      val sizes = Seq(1, 4, 7, 10, 13, 16, 19, 22).map(lit(_))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#2" && col("p_type") =!= "SMALL" &&
          col("p_size").isin(sizes: _*))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    },
    Some("""SELECT p_brand, p_type, p_size,
        CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
            FROM lineitem) ps
      JOIN part ON p_partkey = ps_partkey
      WHERE p_brand <> 'Brand#2' AND p_type <> 'SMALL'
        AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    covers = Seq("A3", "J3"))

  // ------------------------------------------- rolling correlation
  // 28-day trailing Pearson correlation between daily line counts and
  // daily shipped quantity: the time-series co-movement monitor. The
  // corpus first collapses to one row per ship day (the only
  // data-sized aggregate — at 100 TB the window then runs over
  // ~thousands of rows, the q07 pattern), then value-based RANGE
  // frames accumulate the five power sums (n, Σx, Σx², Σy, Σxy, Σy²)
  // in longs/DECIMAL — exact under any partitioning — and the
  // correlation emerges from ONE shared IEEE tree. Windows whose x or
  // y variance is zero are excluded by an exact integer/DECIMAL
  // compare, never a float boundary.
  private val q241 = QueryDef(
    "q241_rolling_corr",
    (s, dir) => {
      val daily = Tables.load(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("x"), sum(dec(col("l_quantity"))).as("y"))
        .withColumn("ed", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.orderBy("ed").rangeBetween(-27, 0)
      val framed = daily
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w).cast(DecimalType(18, 2)))
        .withColumn("sxy", sum(col("x") * col("y")).over(w).cast(DecimalType(18, 2)))
        .withColumn("syy", sum((col("y") * col("y")).cast(DecimalType(18, 4)))
          .over(w).cast(DecimalType(18, 4)))
      val num = col("nw") * col("sxy") - col("sx") * col("sy")
      val den1 = col("nw") * col("sxx") - col("sx") * col("sx")
      val den2 = col("nw") * col("syy") - col("sy") * col("sy")
      framed
        .filter(den1 > 0 && den2 > lit("0.0000").cast(DecimalType(18, 4)))
        .select(col("d"), col("nw").as("n_days"),
          (num.cast("double") /
            (sqrt(den1.cast("double")) * sqrt(den2.cast("double")))).as("corr"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS y
        FROM lineitem GROUP BY 1),
      framed AS (
        SELECT d,
          COUNT(*) OVER w AS nw,
          CAST(SUM(x) OVER w AS BIGINT) AS sx,
          CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
          CAST(SUM(y) OVER w AS DECIMAL(18,2)) AS sy,
          CAST(SUM(x * y) OVER w AS DECIMAL(18,2)) AS sxy,
          CAST(SUM(CAST(y * y AS DECIMAL(18,4))) OVER w AS DECIMAL(18,4)) AS syy
        FROM daily
        WINDOW w AS (ORDER BY DATE_DIFF('day', DATE '1970-01-01', d)
                     RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
      SELECT d, CAST(nw AS BIGINT) AS n_days,
        CAST(nw * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(nw * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(nw * syy - sy * sy AS DOUBLE))) AS corr
      FROM framed
      WHERE nw * sxx - sx * sx > 0 AND nw * syy - sy * sy > 0
      ORDER BY d"""),
    covers = Seq("W-rolling-corr"))

  // ------------------------------------------------- GROUPS window frames
  // SQL:2011 GROUPS frames extend the frame by PEER GROUPS (all rows
  // tied on the ORDER BY key), which neither ROWS (counts physical
  // rows) nor plain RANGE over the raw key (needs numeric distance)
  // expresses when ties matter. Spark has no GROUPS mode; the exact
  // emulation is dense_rank — consecutive integers, one per peer
  // group — then a numeric RANGE frame over the rank: rank distance
  // ≤ 1 ⟺ within one peer group. The oracle derives the same frame a
  // structurally different way (peer groups = dates, so it aggregates
  // per date, runs a ROWS frame over the tie-free date table, and
  // joins back to rows — DuckDB parses but does not implement GROUPS
  // mode), so hash-equality proves the emulation exact, ties
  // included. Two window passes over the same (priority, date) sort
  // order — Catalyst reuses the sort.
  // Output decimated by orderkey (q140's pattern) to keep the gate
  // result bounded while every window still computes over all rows.
  private val q242 = QueryDef(
    "q242_groups_frame",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("d"), dec(col("o_totalprice")).as("p"))
      val byDate = Window.partitionBy("o_orderpriority").orderBy("d")
      val withRank = o.withColumn("dr", dense_rank().over(byDate).cast("long"))
      val groupsFrame = Window.partitionBy("o_orderpriority").orderBy("dr")
        .rangeBetween(-1, 1)
      withRank
        .withColumn("grp_sum", sum(col("p")).over(groupsFrame))
        .withColumn("grp_n", count(lit(1)).over(groupsFrame))
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("d"),
          col("grp_sum").cast("double").as("grp_sum"), col("grp_n"))
        .orderBy("o_orderkey")
    },
    Some("""WITH g AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ps,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
      f AS (
        SELECT o_orderpriority, d,
               CAST(SUM(ps) OVER w AS DOUBLE) AS grp_sum,
               CAST(SUM(n) OVER w AS BIGINT) AS grp_n
        FROM g
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
      SELECT o_orderkey, o.o_orderpriority, f.d, grp_sum, grp_n
      FROM orders o
      JOIN f ON o.o_orderpriority = f.o_orderpriority
            AND CAST(o.o_orderdate AS DATE) = f.d
      WHERE o_orderkey % 97 = 0
      ORDER BY o_orderkey"""),
    covers = Seq("W-groups-frame"))

  // ------------------------------------------------- max drawdown
  // Largest drop from the running peak of daily revenue, per year:
  // dd_d = max_{≤d}(rev) − rev_d over an unbounded-preceding running
  // MAX window, then the year's worst drawdown with its FIRST
  // achieving day (exact-decimal equality picks the days; min(day)
  // totalizes ties). Everything is DECIMAL until the final double
  // surface. The unpartitioned-looking window is per-day aggregates —
  // thousands of rows at any corpus scale (the q07 pattern).
  private val q253 = QueryDef(
    "q253_max_drawdown",
    (s, dir) => {
      val daily = Tables.load(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(dec(col("l_extendedprice"))).cast(DecimalType(18, 2)).as("rev"))
        .withColumn("yr", year(col("d")).cast("long"))
      val runPeak = Window.partitionBy("yr").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withDd = daily
        .withColumn("dd", (max(col("rev")).over(runPeak) - col("rev"))
          .cast(DecimalType(18, 2)))
      val worst = withDd.groupBy("yr").agg(max(col("dd")).as("max_dd"))
      withDd.join(worst, Seq("yr"))
        .filter(col("dd") === col("max_dd"))
        .groupBy(col("yr"), col("max_dd"))
        .agg(min(col("d")).as("worst_day"))
        .select(col("yr"), col("max_dd").cast("double").as("max_drawdown"),
          col("worst_day"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS rev
        FROM lineitem GROUP BY 1),
      w AS (
        SELECT d, CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS yr,
          CAST(MAX(rev) OVER (PARTITION BY EXTRACT(YEAR FROM d) ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev
            AS DECIMAL(18,2)) AS dd
        FROM daily),
      worst AS (SELECT yr, MAX(dd) AS max_dd FROM w GROUP BY yr)
      SELECT w.yr, CAST(worst.max_dd AS DOUBLE) AS max_drawdown,
             MIN(w.d) AS worst_day
      FROM w JOIN worst ON w.yr = worst.yr AND w.dd = worst.max_dd
      GROUP BY w.yr, worst.max_dd
      ORDER BY w.yr"""),
    covers = Seq("W-drawdown"))

  // ------------------------------------------------- magnitude hist
  // Power-of-two magnitude histogram of order value: bucket
  // ⌊log2(cents)⌋ computed EXACTLY as the binary-digit count of the
  // integer (conv ↔ bin string length — no floating log, so no libm
  // at all), with the bucket bounds reconstructed by integer shifts.
  // The log-scaled histogram that sizes sketches and spots heavy
  // tails, gated bit-exactly. One aggregate on (priority, bucket).
  private val q279 = QueryDef(
    "q279_magnitude_hist",
    (s, dir) => {
      val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")
      Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("p"), cents.as("cents"))
        .filter(col("cents") > 0)
        .withColumn("bucket",
          (length(conv(col("cents"), 10, 2)) - 1).cast("long"))
        .groupBy("p", "bucket")
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .withColumn("lo", expr("shiftleft(1L, cast(bucket as int))"))
        .withColumn("hi", expr("shiftleft(1L, cast(bucket + 1 as int)) - 1L"))
        .select(col("p"), col("bucket"), col("lo"), col("hi"), col("n"),
          col("min_cents"), col("max_cents"))
        .orderBy("p", "bucket")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS p,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      b AS (SELECT p, cents,
          CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket
        FROM o WHERE cents > 0)
      SELECT p, bucket,
        CAST(1 AS BIGINT) << bucket AS lo,
        (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi,
        CAST(COUNT(*) AS BIGINT) AS n,
        MIN(cents) AS min_cents, MAX(cents) AS max_cents
      FROM b GROUP BY p, bucket ORDER BY p, bucket"""),
    covers = Seq("AGG-magnitude-hist"))

  // ------------------------------------------------- multi distinct
  // Three DIFFERENT distinct aggregates in one GROUP BY — distinct
  // customers, distinct order days, and distinct (customer, day)
  // pairs per priority. Catalyst plans this as ONE scan with an
  // Expand (row replicated per distinct group) feeding hash
  // aggregates — the single-pass shape whose demotion to
  // SortAggregate q88 had to engineer around, pinned here against
  // DuckDB's tuple-DISTINCT semantics (NULL-free columns, so tuple
  // and multi-arg distinct agree). The pair count also yields the
  // average orders a customer places per active day as one exact
  // division.
  private val q294 = QueryDef(
    "q294_multi_distinct",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("p"), col("o_custkey"),
          to_date(col("o_orderdate")).as("d"))
      o.groupBy("p")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          countDistinct(col("d")).as("n_days"),
          countDistinct(col("o_custkey"), col("d")).as("n_cust_days"))
        .select(col("p"), col("n_orders"), col("n_custs"), col("n_days"),
          col("n_cust_days"),
          (col("n_orders").cast("double") / col("n_cust_days").cast("double"))
            .as("orders_per_cust_day"))
        .orderBy("p")
    },
    Some("""SELECT o_orderpriority AS p,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days,
        CAST(COUNT(DISTINCT (o_custkey, CAST(o_orderdate AS DATE))) AS BIGINT)
          AS n_cust_days,
        CAST(COUNT(*) AS DOUBLE)
          / CAST(COUNT(DISTINCT (o_custkey, CAST(o_orderdate AS DATE)))
                 AS DOUBLE) AS orders_per_cust_day
      FROM orders GROUP BY 1 ORDER BY p"""),
    covers = Seq("AGG-multi-distinct"))

  // ------------------------------------------------- time to threshold
  // Per user: how many events until lifetime value crosses 1000, and
  // when. Running DECIMAL(18,2) sum over the (ts, event_id) total
  // order, first crossing picked by row_number — the funnel question
  // ("how long to activation") asked exactly. One partitioned window,
  // no iteration.
  private val q314 = QueryDef(
    "q314_time_to_threshold",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"), col("event_id"),
        col("ts"), col("value").cast(DecimalType(18, 2)).as("v"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = e.withColumn("cum", sum(col("v")).over(w))
        .withColumn("idx", row_number().over(w).cast("long"))
      val crossed = cum.filter(col("cum") >= 1000)
      val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
      crossed.withColumn("rn", row_number().over(w2))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("idx").as("n_events_to_cross"),
          col("ts").as("cross_ts"),
          col("cum").cast("double").as("value_at_cross"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (SELECT user_id, event_id, ts,
          SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum,
          CAST(row_number()
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS idx
        FROM events),
      x AS (SELECT user_id, idx, ts, cum,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM c WHERE cum >= 1000)
      SELECT user_id, idx AS n_events_to_cross, ts AS cross_ts,
        CAST(cum AS DOUBLE) AS value_at_cross
      FROM x WHERE rn = 1
      ORDER BY user_id"""),
    covers = Seq("W-threshold-crossing"))

  // ------------------------------------------------- burst detection
  // Abuse/bot screening: each user's busiest 10 minutes — count over
  // a RANGE frame of 599 epoch-seconds preceding each event, maxed
  // per user, top-20 burstiest. The value-based frame (not ROWS)
  // makes ties and gaps exact on both engines.
  private val q318 = QueryDef(
    "q318_burst_top_users",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) DIV 1000000").as("sec"))
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-599, Window.currentRow)
      e.withColumn("burst", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max(col("burst")).as("max_burst"), count(lit(1)).as("n_events"))
        .orderBy(desc("max_burst"), asc("user_id")).limit(20)
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec
          FROM events),
      b AS (SELECT user_id, CAST(COUNT(*) OVER (PARTITION BY user_id
            ORDER BY sec RANGE BETWEEN 599 PRECEDING AND CURRENT ROW)
          AS BIGINT) AS burst
        FROM e)
      SELECT user_id, MAX(burst) AS max_burst,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM b GROUP BY user_id
      ORDER BY max_burst DESC, user_id LIMIT 20"""),
    covers = Seq("W-burst"))

  // ------------------------------------------------- reorder cadence
  // Days between consecutive orders per customer (lag over the
  // (o_orderdate, o_orderkey) total order), rolled up to the market
  // segment as a ratio of exact sums — mean inter-order gap and the
  // worst gap, the cadence table a retention model trains on.
  private val q320 = QueryDef(
    "q320_reorder_intervals",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val gaps = o.withColumn("gap",
        datediff(col("d"), lag(col("d"), 1).over(w)).cast(LongType))
        .filter(col("gap").isNotNull)
      gaps.join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("total_gap_days"),
          max(col("gap")).as("max_gap_days"))
        .withColumn("mean_gap_days",
          col("total_gap_days").cast("double") / col("n_gaps").cast("double"))
        .orderBy("segment")
    },
    Some("""WITH g AS (SELECT o_custkey,
          CAST(CAST(o_orderdate AS DATE)
            - lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS BIGINT)
            AS gap
        FROM orders)
      SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(SUM(gap) AS BIGINT) AS total_gap_days,
        MAX(gap) AS max_gap_days,
        CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gap_days
      FROM g JOIN customer ON o_custkey = c_custkey
      WHERE gap IS NOT NULL
      GROUP BY c_mktsegment
      ORDER BY segment"""),
    covers = Seq("W-reorder-cadence"))

  // ------------------------------------------------- reorder gap spectrum
  // The spectrum of customer reorder gaps in weekly buckets (gap DIV
  // 7): how much reordering is same-week vs monthly vs dormant —
  // q320's cadence means, spread into the full distribution.
  private val q383 = QueryDef(
    "q383_reorder_gap_spectrum",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val gaps = o.withColumn("gap",
        datediff(col("d"), lag(col("d"), 1).over(w)).cast(LongType))
        .filter(col("gap").isNotNull)
        .withColumn("week_bucket", expr("gap DIV 7"))
      val tot = gaps.count()
      gaps.groupBy("week_bucket")
        .agg(count(lit(1)).as("n_gaps"))
        .withColumn("share", col("n_gaps").cast("double") / lit(tot.toDouble))
        .orderBy("week_bucket")
    },
    Some("""WITH g AS (SELECT
          CAST(CAST(o_orderdate AS DATE)
            - lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS BIGINT)
            AS gap
        FROM orders),
      f AS (SELECT gap // 7 AS week_bucket FROM g WHERE gap IS NOT NULL),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM f)
      SELECT week_bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t) AS DOUBLE) AS share
      FROM f, tot
      GROUP BY week_bucket
      ORDER BY week_bucket"""),
    covers = Seq("W-gap-spectrum"))

  // ------------------------------------------------- rolling trend slope
  // 30-day rolling OLS slope of daily revenue — the trend-direction
  // companion to q241's rolling correlation. Every frame sum (Σt, Σy,
  // Σty, Σt²) is an exact integer windowed aggregate; the slope is a
  // single double ratio per day. Only the last 90 days are emitted —
  // a control chart, not a full dump.
  private val q405 = QueryDef(
    "q405_rolling_trend_slope",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType)).as("y"))
      val t0 = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      val idx = daily.crossJoin(broadcast(t0))
        .select(col("d"), col("d1"),
          datediff(col("d"), col("d0")).cast(LongType).as("tt"), col("y"))
      val w = Window.orderBy("tt").rowsBetween(-29, Window.currentRow)
      idx.withColumn("n", count(lit(1)).over(w))
        .withColumn("st", sum(col("tt")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sty", sum(dec38(col("tt")) * dec38(col("y"))).over(w))
        .withColumn("stt", sum(col("tt") * col("tt")).over(w))
        .filter(col("n") >= 10 && datediff(col("d1"), col("d")) < 90)
        .withColumn("den", dec38(col("n")) * col("stt")
          - dec38(col("st")) * dec38(col("st")))
        .filter(col("den") > 0)
        .select(col("d"), col("n").as("n_days"),
          ((dec38(col("n")) * col("sty")
            - dec38(col("st")) * dec38(col("sy"))).cast("double")
            / col("den").cast("double")).as("slope_cents_per_day"))
        .orderBy("d")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY d),
      b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      idx AS (SELECT d, d1, CAST(d - d0 AS BIGINT) AS tt, y
        FROM daily, b),
      r AS (SELECT d, d1, tt, y,
          CAST(COUNT(*) OVER w AS BIGINT) AS n,
          CAST(SUM(tt) OVER w AS BIGINT) AS st,
          CAST(SUM(y) OVER w AS BIGINT) AS sy,
          CAST(SUM(CAST(tt AS HUGEINT) * y) OVER w AS HUGEINT) AS sty,
          CAST(SUM(tt * tt) OVER w AS BIGINT) AS stt
        FROM idx
        WINDOW w AS (ORDER BY tt ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
      f AS (SELECT d, n, st, sy, sty, stt,
          CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS den
        FROM r WHERE n >= 10 AND d1 - d < 90)
      SELECT d, n AS n_days,
        CAST(CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy AS DOUBLE)
          / CAST(den AS DOUBLE) AS slope_cents_per_day
      FROM f WHERE den > 0 ORDER BY d"""),
    covers = Seq("W-rolling-slope"))

  // ------------------------------------------------- KMV distinct
  // Distinct users per event type: the bounded-memory KMV estimate
  // next to the exact count. At 100 TB the sketch ships 64 longs per
  // (partition × type) instead of every distinct user through the
  // exchange; here the gate proves the ESTIMATE ITSELF, not just row
  // counts, matches an independent engine.
  private val q424 = QueryDef(
    "q424_kmv_distinct",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val sk = e.groupBy("event_type")
        .agg(Kmv.sketch(s, Kmv.hash60(col("user_id")), K).as("sk"),
          countDistinct(col("user_id")).as("n_exact"))
      sk.select(col("event_type"), col("n_exact"),
          Kmv.estimate(col("sk"), K).as("n_est"))
        .withColumn("rel_err",
          abs(col("n_est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"))
        .orderBy("event_type")
    },
    Some(s"""WITH $kmvCte,
      ex AS (SELECT event_type,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type),
      est AS (SELECT sk.event_type, n_exact,
          CASE WHEN m < $K THEN CAST(m AS DOUBLE)
               ELSE CAST(${K - 1} AS DOUBLE) * 1152921504606846976
                 / CAST(hk AS DOUBLE) END AS n_est
        FROM sk JOIN ex ON sk.event_type = ex.event_type)
      SELECT event_type, n_exact, n_est,
        abs(n_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          AS rel_err
      FROM est ORDER BY event_type"""),
    covers = Seq("SKETCH-kmv"))

  // ------------------------------------------------- KMV intersection
  // Audience overlap between every event-type pair via theta-sketch
  // algebra — the set operation HLL cannot do. Exact overlap rides
  // along for calibration; both engines compute the identical
  // θ = min(threshold) scaling.
  private val q425 = QueryDef(
    "q425_kmv_intersection",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val sk = e.groupBy("event_type")
        .agg(Kmv.sketch(s, Kmv.hash60(col("user_id")), K).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      val pairs = a.join(b, col("type_a") < col("type_b"))
      val tu = e.select(col("event_type"), col("user_id")).distinct()
      val exact = tu.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_shared_exact"))
      pairs.join(exact, Seq("type_a", "type_b"), "left")
        .withColumn("n_shared_exact", coalesce(col("n_shared_exact"), lit(0L)))
        .select(col("type_a"), col("type_b"), col("n_shared_exact"),
          Kmv.intersectEstimate(col("ska"), col("skb"), K)
            .as("n_shared_est"))
        .orderBy("type_a", "type_b")
    },
    Some(s"""WITH $kmvCte,
      mins AS (SELECT event_type, hv FROM r WHERE rn <= $K),
      th AS (SELECT event_type,
          CASE WHEN m < $K THEN CAST(1152921504606846976 AS DOUBLE)
               ELSE CAST(hk AS DOUBLE) END AS theta
        FROM sk),
      tu AS (SELECT DISTINCT event_type, user_id FROM events),
      exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared_exact
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2),
      pairs AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
          LEAST(ta.theta, tb.theta) AS theta
        FROM th ta JOIN th tb ON ta.event_type < tb.event_type),
      inter AS (SELECT ma.event_type AS type_a, mb.event_type AS type_b,
          ma.hv
        FROM mins ma JOIN mins mb
          ON ma.hv = mb.hv AND ma.event_type < mb.event_type),
      shared AS (SELECT p.type_a, p.type_b, p.theta,
          CAST(COUNT(i.hv) FILTER (WHERE CAST(i.hv AS DOUBLE) < p.theta)
            AS BIGINT) AS n_sh
        FROM pairs p LEFT JOIN inter i
          ON p.type_a = i.type_a AND p.type_b = i.type_b
        GROUP BY 1, 2, 3)
      SELECT s.type_a, s.type_b,
        COALESCE(e.n_shared_exact, 0) AS n_shared_exact,
        CAST(s.n_sh AS DOUBLE) * 1152921504606846976 / s.theta
          AS n_shared_est
      FROM shared s LEFT JOIN exact e
        ON s.type_a = e.type_a AND s.type_b = e.type_b
      ORDER BY s.type_a, s.type_b"""),
    covers = Seq("SKETCH-kmv-intersect"))

  // ------------------------------------------------- KMV union
  // Global distinct users as the k-min merge of per-type sketches —
  // the KMV union law (k smallest of a union live in the union of
  // per-part k-smallest) makes the merged sketch IDENTICAL to a
  // sketch built over the whole table, so incremental/partitioned
  // sketch maintenance loses nothing.
  private val q426 = QueryDef(
    "q426_kmv_union",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val merged = e.groupBy("event_type")
        .agg(Kmv.sketch(s, Kmv.hash60(col("user_id")), K).as("sk"))
        .agg(flatten(collect_list(col("sk"))).as("all_h"),
          count(lit(1)).as("n_types"))
        .select(col("n_types"),
          slice(array_sort(array_distinct(col("all_h"))), 1, K).as("sk"))
      val exact = e.agg(countDistinct(col("user_id")).as("n_exact"))
      merged.crossJoin(exact)
        .select(col("n_types"), col("n_exact"),
          Kmv.estimate(col("sk"), K).as("n_est"))
    },
    Some(s"""WITH hg AS (SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      rg AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hg),
      sg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = $K THEN hv END) AS hk
        FROM rg WHERE rn <= $K),
      nt AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events),
      ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events)
      SELECT n_types, n_exact,
        CASE WHEN m < $K THEN CAST(m AS DOUBLE)
             ELSE CAST(${K - 1} AS DOUBLE) * 1152921504606846976
               / CAST(hk AS DOUBLE) END AS n_est
      FROM sg, nt, ex"""),
    covers = Seq("SKETCH-kmv-union"))

  // ------------------------------------------------- KMV difference
  // Exclusive audience per event-type pair, |A\B| and |B\A| by theta
  // algebra on the q424 sketches — "how many users does type A have
  // that B never sees". Deterministic like the rest of the KMV
  // surface; exact set differences ride along for calibration.
  private val q427 = QueryDef(
    "q427_kmv_difference",
    (s, dir) => {
      val K = 64
      val e = Tables.load(s, dir, "events")
      val sk = e.groupBy("event_type")
        .agg(Kmv.sketch(s, Kmv.hash60(col("user_id")), K).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      val tu = e.select(col("event_type"), col("user_id")).distinct()
      val cnt = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
      val shared = tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_shared"))
      a.join(b, col("type_a") < col("type_b"))
        .join(broadcast(cnt.select(col("event_type").as("type_a"),
          col("n").as("na"))), Seq("type_a"))
        .join(broadcast(cnt.select(col("event_type").as("type_b"),
          col("n").as("nb"))), Seq("type_b"))
        .join(broadcast(shared), Seq("type_a", "type_b"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .select(col("type_a"), col("type_b"),
          (col("na") - col("n_shared")).as("a_only_exact"),
          (col("nb") - col("n_shared")).as("b_only_exact"),
          Kmv.differenceEstimate(col("ska"), col("skb"), K)
            .as("a_only_est"),
          Kmv.differenceEstimate(col("skb"), col("ska"), K)
            .as("b_only_est"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH h AS (SELECT DISTINCT event_type,
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv,
          row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h),
      sk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = 64 THEN hv END) AS hk
        FROM r WHERE rn <= 64 GROUP BY event_type),
      mins AS (SELECT event_type, hv FROM r WHERE rn <= 64),
      th AS (SELECT event_type,
          CASE WHEN m < 64 THEN CAST(1152921504606846976 AS DOUBLE)
               ELSE CAST(hk AS DOUBLE) END AS theta
        FROM sk),
      tu AS (SELECT DISTINCT event_type, user_id FROM events),
      cnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM tu GROUP BY event_type),
      shared AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2),
      pairs AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
          LEAST(ta.theta, tb.theta) AS theta
        FROM th ta JOIN th tb ON ta.event_type < tb.event_type),
      aonly AS (SELECT p.type_a, p.type_b,
          CAST(COUNT(ma.hv) FILTER (WHERE mb.hv IS NULL
            AND CAST(ma.hv AS DOUBLE) < p.theta) AS BIGINT) AS n_a
        FROM pairs p
        JOIN mins ma ON ma.event_type = p.type_a
        LEFT JOIN mins mb ON mb.event_type = p.type_b AND mb.hv = ma.hv
        GROUP BY 1, 2),
      bonly AS (SELECT p.type_a, p.type_b,
          CAST(COUNT(mb.hv) FILTER (WHERE ma.hv IS NULL
            AND CAST(mb.hv AS DOUBLE) < p.theta) AS BIGINT) AS n_b
        FROM pairs p
        JOIN mins mb ON mb.event_type = p.type_b
        LEFT JOIN mins ma ON ma.event_type = p.type_a AND ma.hv = mb.hv
        GROUP BY 1, 2)
      SELECT p.type_a, p.type_b,
        ca.n - COALESCE(s.n_shared, 0) AS a_only_exact,
        cb.n - COALESCE(s.n_shared, 0) AS b_only_exact,
        CAST(ao.n_a AS DOUBLE) * 1152921504606846976 / p.theta
          AS a_only_est,
        CAST(bo.n_b AS DOUBLE) * 1152921504606846976 / p.theta
          AS b_only_est
      FROM pairs p
      JOIN cnt ca ON ca.event_type = p.type_a
      JOIN cnt cb ON cb.event_type = p.type_b
      LEFT JOIN shared s ON s.type_a = p.type_a AND s.type_b = p.type_b
      JOIN aonly ao ON ao.type_a = p.type_a AND ao.type_b = p.type_b
      JOIN bonly bo ON bo.type_a = p.type_a AND bo.type_b = p.type_b
      ORDER BY p.type_a, p.type_b"""),
    covers = Seq("SKETCH-kmv-difference"))

  // ------------------------------------------------- KMV accuracy curve
  // The sketch's memory-accuracy dial, measured: distinct-user
  // estimates at k = 16/32/64/128 against the exact count — the
  // tuning table an operator reads before spending 8·k bytes per
  // group at 100 TB. One sketch at the largest k serves every
  // smaller k (its prefix IS the smaller sketch).
  private val q430 = QueryDef(
    "q430_kmv_accuracy_curve",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val sk = e.agg(
        Kmv.sketch(s, Kmv.hash60(col("user_id")), 128).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
      val ks = Seq(16, 32, 64, 128)
      val rows = ks.map(k => struct(lit(k.toLong).as("k"),
        Kmv.estimate(slice(col("sk"), 1, k), k).as("n_est")))
      sk.select(col("n_exact"), explode(array(rows: _*)).as("p"))
        .select(col("p.k"), col("n_exact"), col("p.n_est"))
        .withColumn("rel_err",
          abs(col("n_est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"))
        .orderBy("k")
    },
    Some("""WITH h AS (SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
      ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events),
      ks AS (SELECT CAST(unnest([16, 32, 64, 128]) AS BIGINT) AS k),
      sk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = k THEN hv END) AS hk
        FROM r, ks WHERE rn <= k GROUP BY k),
      est AS (SELECT k, n_exact,
          CASE WHEN m < k THEN CAST(m AS DOUBLE)
               ELSE CAST(k - 1 AS DOUBLE) * 1152921504606846976
                 / CAST(hk AS DOUBLE) END AS n_est
        FROM sk, ex)
      SELECT k, n_exact, n_est,
        abs(n_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          AS rel_err
      FROM est ORDER BY k"""),
    covers = Seq("SKETCH-kmv-tuning"))

  // ------------------------------------------------- velocity burst
  // Abuse-rate detection: each user's maximum events inside any
  // sliding 60-second window (RANGE frame over epoch seconds — the
  // window shape rate limiters are built on), censused by burst
  // size, with the top-10 burstiest users listed. Exact counts; the
  // per-user partition is the natural shard at any scale.
  private val q482 = QueryDef(
    "q482_velocity_burst",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 1000000").as("sec"))
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-59, 0)
      val burst = ev.withColumn("in_window", count(lit(1)).over(w))
        .groupBy("user_id").agg(max("in_window").as("max_burst"))
      val top = burst
        .orderBy(col("max_burst").desc, col("user_id")).limit(10)
        .select(col("user_id"), col("max_burst"))
      top
    },
    Some("""WITH ev AS (SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      burst AS (SELECT user_id,
          CAST(MAX(iw) AS BIGINT) AS max_burst
        FROM (SELECT user_id,
            COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
              RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS iw
          FROM ev)
        GROUP BY user_id)
      SELECT user_id, max_burst FROM burst
      ORDER BY max_burst DESC, user_id LIMIT 10"""),
    covers = Seq("OPS-velocity-burst"))

  // ------------------------------------------------- reorder point
  // Continuous-review (s,Q) reorder point per top-20 part: ROP =
  // L·μ + z·√L·σ with lead time L = 2 weeks, z = 1.645 (95%
  // service), μ/σ from exact weekly-demand moments over the COMPLETE
  // week grid (zero weeks count — absent weeks are real zero
  // demand). σ derives from n·Σq²−S² in one sqrt; the rest is
  // literal arithmetic identical on both engines.
  private val q483 = QueryDef(
    "q483_reorder_point",
    (s, dir) => {
      val wd = weeklyDemand(s, dir).localCheckpoint()
      val span = wd.agg((max("wk") - min("wk") + 1L).as("tw"))
      val stats = wd.groupBy("l_partkey")
        .agg(sum("q").as("sq"), sum(col("q") * col("q")).as("sq2"),
          count(lit(1)).as("nz"))
        .crossJoin(broadcast(span))
      val top = stats.orderBy(col("sq").desc, col("l_partkey")).limit(20)
      top.select(col("l_partkey"), col("tw"), col("nz"), col("sq"),
          (col("sq").cast("double") / col("tw").cast("double")).as("mu"),
          (sqrt((col("tw") * col("sq2") - col("sq") * col("sq"))
            .cast("double")) / col("tw").cast("double")).as("sigma"))
        .withColumn("rop",
          lit(2.0) * col("mu") +
            lit(1.645) * sqrt(lit(2.0)) * col("sigma"))
        .select(col("l_partkey"), col("nz"), col("sq").as("total_qty"),
          col("mu"), col("sigma"), col("rop"))
        .orderBy(col("total_qty").desc, col("l_partkey"))
    },
    Some(s"""WITH $weeklyDemandSql,
      span AS (SELECT MAX(wk) - MIN(wk) + 1 AS tw FROM wd),
      stats AS (SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS sq,
          CAST(SUM(q * q) AS BIGINT) AS sq2,
          CAST(COUNT(*) AS BIGINT) AS nz
        FROM wd GROUP BY 1),
      top AS (SELECT s.*, sp.tw FROM stats s CROSS JOIN span sp
        ORDER BY s.sq DESC, s.l_partkey LIMIT 20)
      SELECT l_partkey, nz, sq AS total_qty,
        CAST(sq AS DOUBLE) / CAST(tw AS DOUBLE) AS mu,
        sqrt(CAST(tw * sq2 - sq * sq AS DOUBLE)) /
          CAST(tw AS DOUBLE) AS sigma,
        2.0 * (CAST(sq AS DOUBLE) / CAST(tw AS DOUBLE)) +
          1.645 * sqrt(2.0) * (sqrt(CAST(tw * sq2 - sq * sq AS DOUBLE))
            / CAST(tw AS DOUBLE)) AS rop
      FROM top ORDER BY total_qty DESC, l_partkey"""),
    covers = Seq("OPS-reorder-point"))

  // ------------------------------------------------- newsvendor
  // Newsvendor stocking per brand at critical ratio 0.3 (30% margin,
  // cost recoverable): Q* = the 30th-percentile week of brand demand
  // (exact percentile_disc pick over the zero-filled week grid via
  // complete-bucket accounting), audited with the realized cycle
  // service level P(demand ≤ Q*) and the volume fill rate
  // Σmin(d,Q*)/Σd — both exact integer ratios.
  private val q484 = QueryDef(
    "q484_newsvendor",
    (s, dir) => {
      val bw = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          col("p_brand")), Seq("l_partkey"))
        .select(col("p_brand"),
          floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"),
          col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
            .as("qty"))
        .groupBy("p_brand", "wk").agg(sum("qty").as("d"))
        .localCheckpoint()
      val qstar = bw.groupBy("p_brand")
        .agg(count(lit(1)).as("n_weeks"),
          expr("percentile_disc(0.3) WITHIN GROUP (ORDER BY d)")
            .cast(LongType).as("q_star"))
      bw.join(broadcast(qstar), Seq("p_brand"))
        .groupBy("p_brand", "n_weeks", "q_star")
        .agg(sum(when(col("d") <= col("q_star"), 1L).otherwise(0L))
          .as("n_served"),
          sum(least(col("d"), col("q_star"))).as("filled"),
          sum("d").as("demand"))
        .select(col("p_brand"), col("n_weeks"), col("q_star"),
          (col("n_served").cast("double") / col("n_weeks").cast("double"))
            .as("cycle_service"),
          (col("filled").cast("double") / col("demand").cast("double"))
            .as("fill_rate"))
        .orderBy("p_brand")
    },
    Some("""WITH bw AS (SELECT p.p_brand,
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l.l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2))
            AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
      qstar AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_weeks,
          CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY d)
            AS BIGINT) AS q_star
        FROM bw GROUP BY 1)
      SELECT b.p_brand, q.n_weeks, q.q_star,
        CAST(COUNT(*) FILTER (WHERE b.d <= q.q_star) AS DOUBLE) /
          CAST(q.n_weeks AS DOUBLE) AS cycle_service,
        CAST(SUM(LEAST(b.d, q.q_star)) AS DOUBLE) /
          CAST(SUM(b.d) AS DOUBLE) AS fill_rate
      FROM bw b JOIN qstar q ON q.p_brand = b.p_brand
      GROUP BY b.p_brand, q.n_weeks, q.q_star ORDER BY b.p_brand"""),
    covers = Seq("OPS-newsvendor"))

  // ------------------------------------------------- EOQ
  // Economic order quantity per top-20 part: Q* = √(2DK/h) with
  // order cost K = $100 and holding cost h = 20% of unit retail per
  // year — annual demand D and prices exact, the formula one
  // division inside one sqrt. Orders/year and cycle-days ride
  // along; the lot-sizing table next to q483's safety stock.
  private val q485 = QueryDef(
    "q485_eoq_table",
    (s, dir) => {
      val dem = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
            .as("qty"),
          year(to_date(col("l_shipdate"))).as("yr"))
        .groupBy("l_partkey")
        .agg(sum("qty").as("total_qty"),
          countDistinct("yr").as("n_years"))
      val priced = dem
        .join(Tables.load(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          (col("p_retailprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("price_c")), Seq("l_partkey"))
      val top = priced.orderBy(col("total_qty").desc, col("l_partkey"))
        .limit(20)
      top.withColumn("d_annual",
          col("total_qty").cast("double") / col("n_years").cast("double"))
        .withColumn("h_cents",
          lit(0.2) * col("price_c").cast("double"))
        .withColumn("eoq",
          sqrt(lit(2.0) * col("d_annual") * lit(10000.0) /
            col("h_cents")))
        .select(col("l_partkey"), col("total_qty"), col("d_annual"),
          col("eoq"),
          (col("d_annual") / col("eoq")).as("orders_per_year"),
          (lit(365.0) / (col("d_annual") / col("eoq"))).as("cycle_days"))
        .orderBy(col("total_qty").desc, col("l_partkey"))
    },
    Some("""WITH dem AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS total_qty,
          CAST(COUNT(DISTINCT year(CAST(l_shipdate AS DATE)))
            AS BIGINT) AS n_years
        FROM lineitem GROUP BY 1),
      priced AS (SELECT d.l_partkey, d.total_qty, d.n_years,
          CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS price_c
        FROM dem d JOIN part p ON p.p_partkey = d.l_partkey),
      top AS (SELECT * FROM priced
        ORDER BY total_qty DESC, l_partkey LIMIT 20)
      SELECT l_partkey, total_qty,
        CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE) AS d_annual,
        sqrt(2.0 * (CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE))
          * 10000.0 / (0.2 * CAST(price_c AS DOUBLE))) AS eoq,
        (CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE)) /
          sqrt(2.0 * (CAST(total_qty AS DOUBLE) /
            CAST(n_years AS DOUBLE)) * 10000.0 /
            (0.2 * CAST(price_c AS DOUBLE))) AS orders_per_year,
        365.0 / ((CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE)) /
          sqrt(2.0 * (CAST(total_qty AS DOUBLE) /
            CAST(n_years AS DOUBLE)) * 10000.0 /
            (0.2 * CAST(price_c AS DOUBLE)))) AS cycle_days
      FROM top ORDER BY total_qty DESC, l_partkey"""),
    covers = Seq("OPS-eoq"))

  // ------------------------------------------------- pull-forward
  // Does a discount-heavy week borrow demand from the next? Pearson
  // correlation between weekly discount dollars (exact scale-4) and
  // NEXT week's shipped quantity, from exact DECIMAL(38,0)/HUGEINT
  // moment bilinears — plus the mean next-week quantity after
  // top-quartile vs bottom-quartile discount weeks (exact integer
  // ratios). Negative correlation = promotions pull sales forward.
  private val q486 = QueryDef(
    "q486_discount_pull_forward",
    (s, dir) => {
      val wk = Tables.load(s, dir, "lineitem")
        .select(
          floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"),
          ((col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(4, 2))) * 10000)
            .cast(LongType).as("disc4"),
          col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
            .as("qty"))
        .groupBy("wk")
        .agg(sum("disc4").as("disc"), sum("qty").as("q"))
      val w = Window.orderBy("wk")
      val pairs = wk
        .withColumn("wk_next", lead(col("wk"), 1).over(w))
        .withColumn("q_next", lead(col("q"), 1).over(w))
        .filter(col("wk_next") === col("wk") + 1)
        .select(col("wk"), col("disc"), col("q_next"))
        .localCheckpoint()
      def d38(c: Column): Column = c.cast(DecimalType(38, 0))
      val m = pairs.agg(count(lit(1)).as("n"),
        sum("disc").as("sx"), sum("q_next").as("sy"),
        sum(d38(col("disc")) * d38(col("disc"))).as("sxx"),
        sum(d38(col("q_next")) * d38(col("q_next"))).as("syy"),
        sum(d38(col("disc")) * d38(col("q_next"))).as("sxy"))
      val cut = pairs.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY disc)")
          .cast(LongType).as("p25"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY disc)")
          .cast(LongType).as("p75"))
      val bands = pairs.crossJoin(broadcast(cut))
        .agg(sum(when(col("disc") >= col("p75"), col("q_next"))).as("qh"),
          sum(when(col("disc") >= col("p75"), 1L).otherwise(0L)).as("nh"),
          sum(when(col("disc") <= col("p25"), col("q_next"))).as("ql"),
          sum(when(col("disc") <= col("p25"), 1L).otherwise(0L)).as("nl"))
      m.crossJoin(bands)
        .select(col("n"),
          ((d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double") /
            (sqrt((d38(col("n")) * col("sxx") -
              d38(col("sx")) * d38(col("sx"))).cast("double")) *
             sqrt((d38(col("n")) * col("syy") -
              d38(col("sy")) * d38(col("sy"))).cast("double"))))
            .as("corr_disc_nextq"),
          (col("qh").cast("double") / col("nh").cast("double"))
            .as("mean_nextq_hi_disc"),
          (col("ql").cast("double") / col("nl").cast("double"))
            .as("mean_nextq_lo_disc"))
    },
    Some("""WITH wk AS (SELECT wk, CAST(SUM(disc4) AS BIGINT) AS disc,
          CAST(SUM(qty) AS BIGINT) AS q
        FROM (SELECT
            CAST(floor(date_diff('day', DATE '1995-01-01',
              CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)
              AS disc4,
            CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
          FROM lineitem) GROUP BY wk),
      pairs AS (SELECT wk, disc, q_next FROM (SELECT wk, disc,
          lead(wk, 1) OVER (ORDER BY wk) AS wk_next,
          lead(q, 1) OVER (ORDER BY wk) AS q_next
        FROM wk) WHERE wk_next = wk + 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(disc) AS BIGINT) AS sx,
          CAST(SUM(q_next) AS BIGINT) AS sy,
          SUM(CAST(disc AS HUGEINT) * disc) AS sxx,
          SUM(CAST(q_next AS HUGEINT) * q_next) AS syy,
          SUM(CAST(disc AS HUGEINT) * q_next) AS sxy
        FROM pairs),
      cut AS (SELECT
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY disc)
            AS BIGINT) AS p25,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY disc)
            AS BIGINT) AS p75
        FROM pairs),
      bands AS (SELECT
          CAST(SUM(CASE WHEN p.disc >= c.p75 THEN p.q_next END)
            AS BIGINT) AS qh,
          CAST(COUNT(*) FILTER (WHERE p.disc >= c.p75) AS BIGINT)
            AS nh,
          CAST(SUM(CASE WHEN p.disc <= c.p25 THEN p.q_next END)
            AS BIGINT) AS ql,
          CAST(COUNT(*) FILTER (WHERE p.disc <= c.p25) AS BIGINT)
            AS nl
        FROM pairs p CROSS JOIN cut c)
      SELECT m.n,
        CAST(CAST(m.n AS HUGEINT) * m.sxy -
            CAST(m.sx AS HUGEINT) * m.sy AS DOUBLE) /
          (sqrt(CAST(CAST(m.n AS HUGEINT) * m.sxx -
            CAST(m.sx AS HUGEINT) * m.sx AS DOUBLE)) *
           sqrt(CAST(CAST(m.n AS HUGEINT) * m.syy -
            CAST(m.sy AS HUGEINT) * m.sy AS DOUBLE)))
          AS corr_disc_nextq,
        CAST(b.qh AS DOUBLE) / CAST(b.nh AS DOUBLE)
          AS mean_nextq_hi_disc,
        CAST(b.ql AS DOUBLE) / CAST(b.nl AS DOUBLE)
          AS mean_nextq_lo_disc
      FROM m CROSS JOIN bands b"""),
    covers = Seq("OPS-pull-forward"))

  // ------------------------------------------------- consolidation
  // Shipping-consolidation opportunity: customers placing multiple
  // orders on the same day — the extra orders are mergeable
  // shipments. Multi-order days, extra-order count and share, and
  // the mean orders per multi-day, all exact.
  private val q501 = QueryDef(
    "q501_order_consolidation",
    (s, dir) => {
      val perDay = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("c"))
      perDay.agg(count(lit(1)).as("n_cust_days"),
          sum("c").as("n_orders"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_multi_days"),
          sum(when(col("c") >= 2, col("c") - 1L).otherwise(0L))
            .as("n_extra_orders"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            .as("n_multi_orders"))
        .select(col("n_cust_days"), col("n_orders"), col("n_multi_days"),
          col("n_extra_orders"),
          (col("n_extra_orders").cast("double") /
            col("n_orders").cast("double")).as("consolidatable_share"),
          (col("n_multi_orders").cast("double") /
            col("n_multi_days").cast("double")).as("orders_per_multi_day"))
    },
    Some("""WITH per_day AS (SELECT o_custkey,
          CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cust_days,
        CAST(SUM(c) AS BIGINT) AS n_orders,
        CAST(COUNT(*) FILTER (WHERE c >= 2) AS BIGINT) AS n_multi_days,
        CAST(SUM(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS BIGINT)
          AS n_extra_orders,
        CAST(SUM(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS DOUBLE) /
          CAST(SUM(c) AS DOUBLE) AS consolidatable_share,
        CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE c >= 2) AS DOUBLE)
          AS orders_per_multi_day
      FROM per_day"""),
    covers = Seq("OPS-consolidation"))

  // ------------------------------------------------- revenue bridge
  // The CFO bridge from 1997 to 1998 revenue, over parts traded both
  // years: per part p̄ᵧ = rᵧ/qᵧ (identical division trees), price
  // effect (p̄₁−p̄₀)q₀, volume effect (q₁−q₀)p̄₀, mix (p̄₁−p̄₀)(q₁−q₀).
  // The cross-part totals fold in part-key order (aggregate HOF ≡
  // list_reduce), the exact Δ revenue and the float residual ride
  // along as the reconciliation check.
  private val q517 = QueryDef(
    "q517_revenue_bridge",
    (s, dir) => {
      def yr(y: Int): DataFrame =
        Tables.load(s, dir, "lineitem")
          .filter(year(to_date(col("l_shipdate"))) === y)
          .groupBy("l_partkey")
          .agg(sum(((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))) * 10000)
            .cast(LongType)).as(s"r$y"),
            sum(col("l_quantity").cast(DecimalType(18, 2))
              .cast(LongType)).as(s"q$y"))
      val j = yr(1997).join(yr(1998), Seq("l_partkey"))
        .withColumn("p0",
          col("r1997").cast("double") / col("q1997").cast("double"))
        .withColumn("p1",
          col("r1998").cast("double") / col("q1998").cast("double"))
        .withColumn("pe",
          (col("p1") - col("p0")) * col("q1997").cast("double"))
        .withColumn("ve",
          (col("q1998") - col("q1997")).cast("double") * col("p0"))
        .withColumn("me",
          (col("p1") - col("p0")) *
            (col("q1998") - col("q1997")).cast("double"))
      val folded = j.agg(count(lit(1)).as("n_parts"),
          sum(col("r1998") - col("r1997")).as("delta_rev4"),
          sort_array(collect_list(struct(col("l_partkey"), col("pe"),
            col("ve"), col("me")))).as("el"))
        .withColumn("price_eff",
          aggregate(col("el"), lit(0.0), (a, e) => a + e.getField("pe")))
        .withColumn("volume_eff",
          aggregate(col("el"), lit(0.0), (a, e) => a + e.getField("ve")))
        .withColumn("mix_eff",
          aggregate(col("el"), lit(0.0), (a, e) => a + e.getField("me")))
      folded.select(col("n_parts"), col("delta_rev4"),
        col("price_eff"), col("volume_eff"), col("mix_eff"),
        (col("delta_rev4").cast("double") -
          (col("price_eff") + col("volume_eff") + col("mix_eff")))
          .as("residual"))
    },
    Some("""WITH y97 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT)) AS BIGINT) AS r0,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS q0
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
        GROUP BY 1),
      y98 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT)) AS BIGINT) AS r1,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS q1
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1998
        GROUP BY 1),
      j AS (SELECT a.l_partkey, a.r0, a.q0, b.r1, b.q1,
          CAST(a.r0 AS DOUBLE) / CAST(a.q0 AS DOUBLE) AS p0,
          CAST(b.r1 AS DOUBLE) / CAST(b.q1 AS DOUBLE) AS p1
        FROM y97 a JOIN y98 b ON b.l_partkey = a.l_partkey),
      eff AS (SELECT l_partkey, r1 - r0 AS delta,
          (p1 - p0) * CAST(q0 AS DOUBLE) AS pe,
          CAST(q1 - q0 AS DOUBLE) * p0 AS ve,
          (p1 - p0) * CAST(q1 - q0 AS DOUBLE) AS me
        FROM j),
      folded AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
          CAST(SUM(delta) AS BIGINT) AS delta_rev4,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(pe ORDER BY l_partkey)), (a, b) -> a + b) AS price_eff,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(ve ORDER BY l_partkey)), (a, b) -> a + b)
            AS volume_eff,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(me ORDER BY l_partkey)), (a, b) -> a + b) AS mix_eff
        FROM eff)
      SELECT n_parts, delta_rev4, price_eff, volume_eff, mix_eff,
        CAST(delta_rev4 AS DOUBLE) -
          (price_eff + volume_eff + mix_eff) AS residual
      FROM folded"""),
    covers = Seq("FIN-revenue-bridge"))

  // ------------------------------------------------- hurdle model
  // Two-part (hurdle) decomposition of yearly customer value per
  // segment: participation P(any order in 1998) × conditional
  // intensity E[spend | active] = unconditional mean — all three
  // exact ratios, with the identity residual pinned at zero by
  // construction on both engines. The "is growth more buyers or
  // bigger buyers" ledger.
  private val q518 = QueryDef(
    "q518_hurdle_model",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val spend98 = Tables.load(s, dir, "orders")
        .filter(year(to_date(col("o_orderdate"))) === 1998)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType)).as("y"))
      cust.join(spend98, Seq("c_custkey"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(when(col("y") > 0L, 1L).otherwise(0L)).as("n_active"),
          sum("y").as("total_cents"))
        .select(col("segment"), col("n_cust"), col("n_active"),
          (col("n_active").cast("double") / col("n_cust").cast("double"))
            .as("participation"),
          (col("total_cents").cast("double") /
            col("n_active").cast("double")).as("intensity_cents"),
          (col("total_cents").cast("double") /
            col("n_cust").cast("double")).as("mean_value_cents"))
        .orderBy("segment")
    },
    Some("""WITH spend98 AS (SELECT o_custkey,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS y
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998
        GROUP BY 1)
      SELECT c.c_mktsegment AS segment,
        CAST(COUNT(*) AS BIGINT) AS n_cust,
        CAST(COUNT(*) FILTER (WHERE COALESCE(s.y, 0) > 0) AS BIGINT)
          AS n_active,
        CAST(COUNT(*) FILTER (WHERE COALESCE(s.y, 0) > 0) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS participation,
        CAST(SUM(COALESCE(s.y, 0)) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE COALESCE(s.y, 0) > 0) AS DOUBLE)
          AS intensity_cents,
        CAST(SUM(COALESCE(s.y, 0)) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS mean_value_cents
      FROM customer c LEFT JOIN spend98 s ON s.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("FIN-hurdle-model"))

  // ------------------------------------------------- whitespace
  // Assortment whitespace between segment pairs: parts that segment
  // A buys and segment B never touches — count and A-side revenue at
  // stake per ordered pair. Aggregated (segment, part) postings keep
  // the join catalog-cardinality-sized at any SF; the cross-sell
  // target list in exact scale-4 revenue.
  private val q519 = QueryDef(
    "q519_assortment_whitespace",
    (s, dir) => {
      val sb = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment")), Seq("o_custkey"))
        .groupBy("segment", "l_partkey")
        .agg(sum(((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(4, 2)) -
            col("l_discount").cast(DecimalType(4, 2)))) * 10000)
          .cast(LongType)).as("rev4"))
        .localCheckpoint()
      // whitespace pairs from ONE per-part fold instead of the
      // pairs-join + left-anti probe: each part carries its present
      // segments (≤ |segments| structs), the absent set is
      // array_except against the global segment list, and the
      // (present × absent) expansion happens per row with codegen'd
      // array functions — no 4×|sb| join, no second shuffle of sb
      val allSegs = sb.select("segment").distinct()
        .agg(sort_array(collect_list(col("segment"))).as("all_segs"))
      sb.groupBy("l_partkey")
        .agg(collect_list(struct(col("segment"), col("rev4"))).as("pres"))
        .crossJoin(broadcast(allSegs))
        .select(
          explode(col("pres")).as("p"),
          array_except(col("all_segs"),
            transform(col("pres"), x => x.getField("segment"))).as("absent"))
        .select(col("p.segment").as("seg_a"),
          explode(col("absent")).as("seg_b"), col("p.rev4").as("rev4"))
        .groupBy("seg_a", "seg_b")
        .agg(count(lit(1)).as("n_whitespace_parts"),
          sum("rev4").as("rev_at_stake4"))
        .orderBy("seg_a", "seg_b")
    },
    Some("""WITH sb AS MATERIALIZED (SELECT c.c_mktsegment AS segment,
          l.l_partkey,
          CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount
              AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS BIGINT) AS rev4
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      segs AS (SELECT DISTINCT segment FROM sb),
      pairs AS (SELECT a.segment AS seg_a, b.segment AS seg_b
        FROM segs a CROSS JOIN segs b WHERE a.segment <> b.segment)
      SELECT p.seg_a, p.seg_b,
        CAST(COUNT(*) AS BIGINT) AS n_whitespace_parts,
        CAST(SUM(sa.rev4) AS BIGINT) AS rev_at_stake4
      FROM pairs p
      JOIN sb sa ON sa.segment = p.seg_a
      LEFT JOIN sb sbb ON sbb.segment = p.seg_b
        AND sbb.l_partkey = sa.l_partkey
      WHERE sbb.segment IS NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("FIN-whitespace"))

  val all: Seq[QueryDef] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q19, q39, q40, q44,
      q49, q50, q51, q53, q57, q61, q62, q63, q67, q73, q79, q84, q94, q96,
      q104, q108, q116, q122, q123, q129, q135, q137, q138, q140, q149, q155,
      q160, q165, q178, q199, q200, q202, q212, q215, q216, q221, q222, q233,
      q235, q238, q241, q242, q253, q279, q294, q314, q318, q320, q383, q405,
      q424, q425, q426, q427, q430, q482, q483, q484, q485, q486, q501, q517,
      q518, q519)
}
