package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables

import QueryDef.{cents, dec, dec38}

/** Named analytics patterns over the TPC-H tables: cohorts,
  * retention, funnels, RFM and value bands, pricing and basket
  * shapes, churn, attribution and revenue bridges.
  *
  * Determinism rules: see the [[QueryDef]] companion.
  */
object AnalyticsGates {

  // Shared scaffold for the robust-statistics gates: per-priority
  // value rank (unique tiebreak) + partition size + exact DECIMAL
  // value, one window pass.
  private def ranked(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
    val wp = Window.partitionBy("o_orderpriority")
    Tables.load(s, dir, "orders").select(
      col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
      col("o_totalprice").cast("decimal(18,2)").as("x"),
      row_number().over(w).as("i"),
      count(lit(1)).over(wp).as("n"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w).as("cum"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(wp).as("tot"))
  }

  private[queries] def rev =
    (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) -
        col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))

  // ------------------------------------------------- mergeable histogram
  // Fixed-edge histogram as MERGEABLE state: per-batch partial bin
  // counts/sums (batches = user_id % 3) re-aggregate to exactly the
  // one-shot histogram the oracle computes — integer bin counts and
  // DECIMAL bin sums are associative, so the equality is bitwise. The
  // distribution-sketch analogue of q94's incremental sums: approximate
  // percentiles at any batch boundary cost O(bins), never a corpus
  // rescan.
  private val q111 = QueryDef(
    "q111_mergeable_histogram",
    (s, dir) => {
      val dec = DecimalType(18, 2)
      val binned = Tables.load(s, dir, "events").select(
        least(greatest(floor(col("value") / 25.0), lit(0)), lit(7))
          .cast(LongType).as("bin"),
        (col("user_id") % 3).as("b"),
        col("value"))
      val partial = binned.groupBy("b", "bin").agg(
        count(lit(1)).as("n"), sum(col("value").cast(dec)).cast(dec).as("total"))
      partial.groupBy("bin").agg(
          sum("n").as("n"), sum("total").cast(dec).cast("double").as("total"))
        .orderBy("bin")
    },
    Some("""SELECT CAST(least(greatest(floor(value / 25.0), 0), 7) AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-hist-mergeable"))

  // ------------------------------------------------------ boolean aggregates
  // bool_and / bool_or / count_if — the predicate-aggregate tail of
  // the scalar surface (q63 gates the bitwise twins).
  private val q114 = QueryDef(
    "q114_bool_aggs",
    (s, dir) =>
      Tables.load(s, dir, "orders").groupBy("o_orderpriority")
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_orderstatus") === "F").as("any_final"),
          count_if(col("o_totalprice") > 200000).as("n_big"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
        bool_and(o_totalprice > 1000) AS all_over_1k,
        bool_or(o_orderstatus = 'F') AS any_final,
        CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-bool"))

  // ----------------------------------------------------------- dynamic pivot
  // Pivot with DISCOVERED values: the Spark side passes no value list
  // (pivot() plans an internal distinct + sorts the values), and must
  // land on exactly the columns the oracle spells out by hand — q44
  // gates the fixed-list form.
  private val q118 = QueryDef(
    "q118_dynamic_pivot",
    (s, dir) => {
      val dec = DecimalType(18, 2)
      Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_nationkey") < 4)
        .groupBy(col("c_mktsegment").as("seg"))
        .pivot("n_name") // no value list: discovered + sorted by Spark
        .agg(sum(col("c_acctbal").cast(dec)).cast("double"))
        .orderBy("seg")
    },
    Some("""SELECT c_mktsegment AS seg,
        CAST(sum(CASE WHEN n_name='NATION_0' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_0",
        CAST(sum(CASE WHEN n_name='NATION_1' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_1",
        CAST(sum(CASE WHEN n_name='NATION_2' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_2",
        CAST(sum(CASE WHEN n_name='NATION_3' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_3"
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_nationkey < 4
      GROUP BY seg ORDER BY seg"""),
    covers = Seq("A-pivot-dynamic"))

  // ------------------------------------------------ aggregate null matrix
  // Null semantics of the aggregate surface pinned on an ALL-NULL
  // group: count(*) counts rows, count(x) skips nulls, sum/min/max of
  // nothing are NULL (never 0) — the exact behaviors that silently
  // corrupt KPIs when an engine deviates.
  private val q130 = QueryDef(
    "q130_null_agg_matrix",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(
        col("o_orderpriority").as("pri"),
        when(col("o_orderpriority") === "5-LOW", lit(null))
          .otherwise(col("o_totalprice")).as("p"))
      o.groupBy("pri").agg(
          count(lit(1)).as("n_rows"),
          count(col("p")).as("n_vals"),
          sum(col("p").cast(DecimalType(18, 2))).cast("double").as("sum_p"),
          min(col("p")).as("min_p"),
          max(col("p")).as("max_p"),
          (count(lit(1)) - count(col("p"))).as("n_nulls"))
        .orderBy("pri")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS pri,
          CASE WHEN o_orderpriority = '5-LOW' THEN NULL ELSE o_totalprice END AS p
        FROM orders)
      SELECT pri, CAST(count(*) AS BIGINT) n_rows, CAST(count(p) AS BIGINT) n_vals,
        CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        min(p) AS min_p, max(p) AS max_p,
        CAST(count(*) - count(p) AS BIGINT) AS n_nulls
      FROM o GROUP BY pri ORDER BY pri"""),
    covers = Seq("A-null-matrix"))

  // ------------------------------------------------------------- funnel
  // Ordered conversion funnel with per-step deadlines: first signup →
  // first click within 48 h → first purchase within 96 h of that
  // click. Each step joins only the previous step's survivors on the
  // key (no window over raw events), which is the funnel shape that
  // scales; min() timestamps make every step deterministic.
  private val q132 = QueryDef(
    "q132_funnel",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 48 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 96 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_clicked_48h")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchased_96h")))
    },
    Some("""WITH s AS (SELECT user_id, min(ts) t1 FROM events
               WHERE event_type='signup' GROUP BY 1),
      c AS (SELECT e.user_id, min(ts) t2 FROM events e JOIN s ON e.user_id = s.user_id
            WHERE event_type='click' AND ts > t1 AND ts <= t1 + INTERVAL 48 HOUR
            GROUP BY 1),
      p AS (SELECT e.user_id, min(ts) t3 FROM events e JOIN c ON e.user_id = c.user_id
            WHERE event_type='purchase' AND ts > t2 AND ts <= t2 + INTERVAL 96 HOUR
            GROUP BY 1)
      SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
             CAST((SELECT count(*) FROM c) AS BIGINT) AS n_clicked_48h,
             CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchased_96h"""),
    covers = Seq("A-funnel"))

  // ------------------------------------------------------ cohort retention
  // Weekly cohort retention: users grouped by first-activity week,
  // counted distinct-active at each week offset — the classic
  // retention triangle, all integer epoch arithmetic (UTC day
  // boundaries, DIV week buckets) so both engines agree exactly.
  private val q133 = QueryDef(
    "q133_cohort_retention",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val first = e.groupBy("user_id").agg(to_date(min(col("ts"))).as("d0"))
      val act = e.join(first, "user_id")
        .select(col("user_id"),
          expr("unix_timestamp(CAST(d0 AS TIMESTAMP)) DIV 604800").as("cohort_week"),
          expr("(unix_timestamp(CAST(to_date(ts) AS TIMESTAMP)) - " +
            "unix_timestamp(CAST(d0 AS TIMESTAMP))) DIV 604800").as("week_offset"))
        .distinct()
      act.groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH first AS (
        SELECT user_id, CAST(min(ts) AS DATE) d0 FROM events GROUP BY 1),
      act AS (
        SELECT DISTINCT e.user_id,
          CAST(epoch(CAST(f.d0 AS TIMESTAMP)) AS BIGINT) // 604800 AS cohort_week,
          (CAST(epoch(CAST(CAST(e.ts AS DATE) AS TIMESTAMP)) AS BIGINT) -
           CAST(epoch(CAST(f.d0 AS TIMESTAMP)) AS BIGINT)) // 604800 AS week_offset
        FROM events e JOIN first f ON e.user_id = f.user_id)
      SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        CAST(week_offset AS BIGINT) AS week_offset,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM act GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A-cohort"))

  // ------------------------------------------------------ weighted median
  // Mass-weighted median: the smallest value whose cumulative DECIMAL
  // mass reaches half the stratum total (2·cum ≥ tot — exact decimal
  // comparison, no float midpoint). The robust location statistic a
  // quality pipeline uses where outliers make the mean useless; one
  // window pass + one aggregate.
  private val q144 = QueryDef(
    "q144_weighted_median",
    (s, dir) =>
      ranked(s, dir)
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("o_orderpriority")
        .agg(min(col("o_totalprice")).as("weighted_median"))
        .orderBy("o_orderpriority"),
    Some("""WITH w AS (
        SELECT o_orderpriority, o_totalprice,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) cum,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_orderpriority) tot
        FROM orders)
      SELECT o_orderpriority, min(o_totalprice) AS weighted_median
      FROM w WHERE 2 * cum >= tot GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-robust"))

  // ---------------------------------------------------- Gini concentration
  // Gini coefficient per stratum from the sorted-rank identity
  // Σ(2i−n−1)·xᵢ / (n·Σxᵢ): the numerator is an exact DECIMAL sum
  // (rank weights are integers), so the single final division is the
  // only float op — bit-identical across engines. The inequality
  // measure behind "is this source dominated by a few giant
  // documents" curation checks (q69/q143 measure the count side;
  // this measures mass concentration).
  private val q145 = QueryDef(
    "q145_gini",
    (s, dir) =>
      ranked(s, dir)
        .groupBy("o_orderpriority", "n")
        .agg((sum((col("i") * 2 - col("n") - 1) * col("x")).cast("double") /
          (col("n") * sum(col("x")).cast("double"))).as("gini"))
        .select("o_orderpriority", "gini")
        .orderBy("o_orderpriority"),
    Some("""WITH r AS (
        SELECT o_orderpriority,
          CAST(o_totalprice AS DECIMAL(18,2)) x,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) i,
          count(*) OVER (PARTITION BY o_orderpriority) n
        FROM orders)
      SELECT o_orderpriority,
        CAST(SUM((2*i - n - 1) * x) AS DOUBLE) / (CAST(n AS BIGINT) * CAST(SUM(x) AS DOUBLE)) AS gini
      FROM r GROUP BY o_orderpriority, n ORDER BY 1"""),
    covers = Seq("A-robust"))

  // -------------------------------------------------------- winsorization
  // Outlier clipping at exact P1/P99 order statistics — k = ceil(p·n)
  // in integer arithmetic (interpolating percentiles are only
  // cross-engine-exact at dyadic fractions, order statistics always
  // are). Reports the clip bounds, how many rows hit each side, and
  // the winsorized mass; the standard tail-taming step before
  // training on heavy-tailed quality scores.
  private val q146 = QueryDef(
    "q146_winsorize",
    (s, dir) => {
      val r = ranked(s, dir)
      val b = r.groupBy(col("o_orderpriority").as("p"))
        .agg(
          max(when(col("i") === expr("(n + 99) DIV 100"), col("x"))).as("lo"),
          max(when(col("i") === expr("(99 * n + 99) DIV 100"), col("x"))).as("hi"))
      r.join(broadcast(b), col("o_orderpriority") === col("p"))
        .groupBy("o_orderpriority")
        .agg(
          max(col("lo")).cast("double").as("lo"),
          max(col("hi")).cast("double").as("hi"),
          sum(when(col("x") < col("lo"), 1).otherwise(0)).as("n_lo"),
          sum(when(col("x") > col("hi"), 1).otherwise(0)).as("n_hi"),
          sum(greatest(col("lo"), least(col("hi"), col("x")))).cast("double").as("winsorized_mass"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH r AS (
        SELECT o_orderpriority,
          CAST(o_totalprice AS DECIMAL(18,2)) x,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) i,
          count(*) OVER (PARTITION BY o_orderpriority) n
        FROM orders),
      b AS (
        SELECT o_orderpriority,
          MAX(CASE WHEN i = (n + 99) // 100 THEN x END) lo,
          MAX(CASE WHEN i = (99*n + 99) // 100 THEN x END) hi
        FROM r GROUP BY 1)
      SELECT r.o_orderpriority,
        CAST(MAX(lo) AS DOUBLE) lo, CAST(MAX(hi) AS DOUBLE) hi,
        CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) n_lo,
        CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) n_hi,
        -- DuckDB GREATEST/LEAST promote DECIMAL to DOUBLE; the cast
        -- back to DECIMAL(18,2) restores the exact clamped value so
        -- the sum stays exact like Spark's decimal sum
        CAST(SUM(CAST(GREATEST(lo, LEAST(hi, x)) AS DECIMAL(18,2))) AS DOUBLE) winsorized_mass
      FROM r JOIN b USING (o_orderpriority)
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-robust", "P10"))

  // -------------------------------------------------- median absolute deviation
  // MAD — the robust scale companion to q144/q146: lower-median order
  // statistic (k = ceil(n/2), integer arith — interpolation-free) of
  // x, then the same order statistic of |x − med|. Two window passes,
  // both decimal-exact; doubles only at the final projection.
  private val q150 = QueryDef(
    "q150_mad",
    (s, dir) => {
      val r = ranked(s, dir)
      val med = r.groupBy(col("o_orderpriority").as("p"))
        .agg(max(when(col("i") === expr("(n + 1) DIV 2"), col("x"))).as("med"))
      val wDev = Window.partitionBy("o_orderpriority").orderBy(abs(col("x") - col("med")), col("i"))
      r.join(broadcast(med), col("o_orderpriority") === col("p"))
        .withColumn("j", row_number().over(wDev))
        .groupBy("o_orderpriority")
        .agg(max(col("med")).cast("double").as("med"),
          max(when(col("j") === expr("(n + 1) DIV 2"),
            abs(col("x") - col("med")))).cast("double").as("mad"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH r AS (
        SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) x,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) i,
          count(*) OVER (PARTITION BY o_orderpriority) n
        FROM orders),
      med AS (SELECT o_orderpriority, MAX(CASE WHEN i = (n+1)//2 THEN x END) med
              FROM r GROUP BY 1),
      d AS (
        SELECT r.o_orderpriority, ABS(x - med) dev, med, n,
          row_number() OVER (PARTITION BY r.o_orderpriority ORDER BY ABS(x - med), i) j
        FROM r JOIN med USING (o_orderpriority))
      SELECT o_orderpriority,
        CAST(MAX(med) AS DOUBLE) med,
        CAST(MAX(CASE WHEN j = (n+1)//2 THEN dev END) AS DOUBLE) mad
      FROM d GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-robust"))

  // --------------------------------------------- equi-depth histogram
  // Per-group equi-depth (equal-count) buckets via partitioned ntile:
  // bucket boundaries adapt to the distribution (where equi-WIDTH q73
  // wastes bins on empty ranges). Partitioned by priority so every
  // window fits one executor's partition — the global-sort variant
  // would single-thread at scale (cf. SCALING.md); per-key histograms
  // are what a stats collector actually stores.
  private val q159 = QueryDef(
    "q159_equidepth_hist",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"),
          ntile(8).over(w).cast("long").as("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"),
          min(dec(col("o_totalprice"))).cast("double").as("lo"),
          max(dec(col("o_totalprice"))).cast("double").as("hi"))
        .orderBy("o_orderpriority", "bucket")
    },
    Some("""SELECT o_orderpriority, bucket,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
        CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
      FROM (SELECT o_orderpriority, o_totalprice,
              ntile(8) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders)
      GROUP BY o_orderpriority, bucket
      ORDER BY o_orderpriority, bucket"""),
    covers = Seq("A-histogram", "W-distribution"))

  // ------------------------------------------------- discrete percentiles
  // PERCENTILE_DISC: the quantile that must be an actual data value
  // (order statistic), vs q50's interpolated PERCENTILE_CONT. No
  // interpolation means no float arithmetic at all — the gate is
  // exact for ANY fraction, not just dyadic ones. Spark 4 has the
  // ANSI WITHIN GROUP syntax natively; DuckDB's quantile_disc is the
  // same order statistic (smallest value with cumulative fraction
  // ≥ p).
  private val q164 = QueryDef(
    "q164_percentile_disc",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // graft.operators.ExactQuantiles rank-selects over the DISTINCT
      // value frame (l_quantity has ~50 distinct values — the count
      // pre-agg collapses 600k rows to 150) instead of the built-in's
      // four independent per-group value buffers; selection is
      // bit-identical to percentile_disc (ExactQuantilesSpec).
      // Regime note (same-JVM A/B): few large groups — the built-in
      // buffer loses one decade up (sf1: 5.3 s vs 4.3 s) while
      // costing slightly less at sf0.1; the scale shape ships
      val qty = graft.operators.ExactQuantiles.disc(
        li, Seq("l_returnflag"), "l_quantity",
        Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)))
      val price = graft.operators.ExactQuantiles.disc(
        li, Seq("l_returnflag"), "l_extendedprice", Seq(("price_p99", 0.99)))
      qty.join(price, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p10"), col("p50"), col("p90"),
          col("price_p99"), qty.col("__group_n").as("n"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        quantile_disc(l_quantity, 0.1) AS p10,
        quantile_disc(l_quantity, 0.5) AS p50,
        quantile_disc(l_quantity, 0.9) AS p90,
        quantile_disc(l_extendedprice, 0.99) AS price_p99,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("A-percentile-disc"))

  // ------------------------------------------- event-transition matrix
  // First-order Markov transition counts over each user's event
  // sequence: lag() within (user, time) order builds the (prev → next)
  // pairs, one groupBy counts them, and each transition's probability
  // is its count over the source state's outgoing total (window sum —
  // exact int/int division). The per-user window partitions by
  // user_id, so state never concentrates; this is the
  // session-analytics shape that degenerates to a driver loop in
  // row-at-a-time engines.
  private val q167 = QueryDef(
    "q167_markov_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.load(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
      val counts = pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("out_total",
          sum(col("n")).over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("n"),
          (col("n").cast("double") / col("out_total")).as("p"))
        .orderBy("prev_type", "next_type")
    },
    Some("""WITH pairs AS (
        SELECT user_id, event_type AS next_type,
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
      counts AS (
        SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type)
      SELECT prev_type, next_type, n,
        CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
      FROM counts
      ORDER BY prev_type, next_type"""),
    covers = Seq("A-markov"))

  // ------------------------------------------------ approx percentiles
  // Mergeable quantile summary (Greenwald-Khanna) per group — the
  // sketch answer to q50's exact sort-based percentiles. The sketch
  // returns an element within rank-error n/accuracy of the true
  // order statistic, so the raw values can't hash-match an oracle —
  // but the rank BANDS can: each approx percentile is checked
  // against generous exact interpolated bands (±1 rank percent for
  // p50/p90, [98.5, 99.5] for p99 — accuracy 10000 keeps the true
  // error two orders below the band), and the oracle pins the flags
  // to 1. Round13QueriesSpec still pins the raw estimates against
  // exact order statistics. At 100 TB the sketch is one pass + tiny
  // merges where exact percentiles need a full sort per group.
  private val q190 = QueryDef(
    "q190_approx_percentile",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // exact bands via graft.operators.ExactQuantiles (distinct-value
      // rank-select, bit-identical to percentile() — fuzz-pinned in
      // ExactQuantilesSpec). Regime note (same-JVM A/B): with FEW
      // LARGE groups the built-in's per-group value buffer grows with
      // the data and loses one decade up (sf1: 7.8 s vs 6.0 s) while
      // costing slightly less at sf0.1 — the shipped shape is the one
      // that survives the scale-up
      val bands = graft.operators.ExactQuantiles.cont(
        li, Seq("l_returnflag"), "l_extendedprice",
        Seq(("b50lo", 0.49), ("b50hi", 0.51), ("b90lo", 0.89),
          ("b90hi", 0.91), ("b99lo", 0.985), ("b99hi", 0.995)))
      li.groupBy("l_returnflag")
        .agg(
          approx_percentile(col("l_extendedprice"), array(lit(0.5), lit(0.9), lit(0.99)),
            lit(10000)).as("approx_p"),
          count(lit(1)).as("n"))
        .join(bands, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          (element_at(col("approx_p"), 1) >= col("b50lo") &&
            element_at(col("approx_p"), 1) <= col("b50hi"))
            .cast("long").as("p50_in_band"),
          (element_at(col("approx_p"), 2) >= col("b90lo") &&
            element_at(col("approx_p"), 2) <= col("b90hi"))
            .cast("long").as("p90_in_band"),
          (element_at(col("approx_p"), 3) >= col("b99lo") &&
            element_at(col("approx_p"), 3) <= col("b99hi"))
            .cast("long").as("p99_in_band"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(1 AS BIGINT) AS p50_in_band,
        CAST(1 AS BIGINT) AS p90_in_band,
        CAST(1 AS BIGINT) AS p99_in_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("A-approx-percentile"))

  // --------------------------------------------- Wilson lower bound
  // Small-sample-safe rate ranking: per user cohort, the conversion
  // rate purchase/click with its Wilson-score lower bound (z=1.96).
  // Counts are exact integers; the bound is ONE shared IEEE tree of
  // correctly-rounded ops (÷, ·, sqrt) written identically in both
  // engines — bit-stable like q184's z-scores. Ranking sources by
  // wilson_low instead of raw rate is how a curation pipeline avoids
  // promoting a 1-for-1 source over a 900-for-1000 one.
  private val q193 = QueryDef(
    "q193_wilson_bound",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .groupBy((col("user_id") % 20).as("cohort"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
        .filter(col("clicks") > 0)
      // proportion of purchase events among click+purchase events —
      // a true [0,1] binomial proportion, which is what the Wilson
      // interval models
      val n = (col("clicks") + col("purchases")).cast("double")
      val p = col("purchases").cast("double") / n
      val z2 = lit(1.96) * lit(1.96)
      val denom = lit(1.0) + z2 / n
      val center = p + z2 / (lit(2.0) * n)
      val rad = lit(1.96) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
      ev.select(col("cohort"), col("clicks"), col("purchases"),
          p.as("rate"), ((center - rad) / denom).as("wilson_low"))
        .orderBy("cohort")
    },
    Some("""WITH agg AS (
        SELECT user_id % 20 AS cohort,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
        FROM events GROUP BY 1),
      x AS (
        SELECT cohort, clicks, purchases,
          CAST(clicks + purchases AS DOUBLE) AS n,
          CAST(purchases AS DOUBLE) / CAST(clicks + purchases AS DOUBLE) AS p
        FROM agg WHERE clicks > 0),
      z AS (SELECT CAST(1.96 AS DOUBLE) AS zz)
      SELECT cohort, clicks, purchases, p AS rate,
        ((p + (zz * zz) / (CAST(2.0 AS DOUBLE) * n))
          - zz * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / n
                      + (zz * zz) / (CAST(4.0 AS DOUBLE) * n * n)))
        / (CAST(1.0 AS DOUBLE) + (zz * zz) / n) AS wilson_low
      FROM x, z ORDER BY cohort"""),
    covers = Seq("A-wilson"))

  // ------------------------------------------------- comparator array sort
  // In-row sorting with a CUSTOM comparator lambda: each order's
  // line structs sorted by (quantity DESC, linenumber ASC) entirely
  // inside the row via array_sort((l, r) => …) — no explode, no
  // window. The comparator is a total order (linenumber is unique per
  // order), so the result is deterministic even though collect_list's
  // input order is not: any permutation sorts to the same sequence.
  // DuckDB has no comparator lambdas; the oracle derives the same
  // sequence through ORDER BY inside an ordered aggregate — two
  // different mechanisms, one pinned answer.
  private val q252 = QueryDef(
    "q252_comparator_sort",
    (s, dir) => {
      val sorted = array_sort(
        col("lines"),
        (l, r) => when(l.getField("q") > r.getField("q"), -1)
          .when(l.getField("q") < r.getField("q"), 1)
          .otherwise(l.getField("ln") - r.getField("ln")))
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(
          dec(col("l_quantity")).as("q"),
          col("l_linenumber").as("ln"))).as("lines"))
        .select(col("l_orderkey"), size(col("lines")).as("n_lines"),
          array_join(transform(sorted, x => x.getField("ln").cast("string")), ",")
            .as("ln_by_qty"))
        .orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey,
        CAST(COUNT(*) AS INTEGER) AS n_lines,
        string_agg(CAST(l_linenumber AS VARCHAR), ','
          ORDER BY CAST(l_quantity AS DECIMAL(18,2)) DESC, l_linenumber)
          AS ln_by_qty
      FROM lineitem
      GROUP BY l_orderkey ORDER BY l_orderkey"""),
    covers = Seq("A-comparator-sort"))

  // ------------------------------------------------- percent of parent
  // Part-to-whole at every grain of a hierarchy: each nation's
  // revenue as a share of its region AND of the world, plus the
  // region's share of the world — the drill-down ratio set every
  // OLAP layer renders. One exact-decimal aggregate at the leaf
  // grain; parents come from window sums OVER the aggregated frame
  // (25 rows at any corpus scale), so the corpus is scanned once and
  // every division is one IEEE op from exact numerators.
  private val q255 = QueryDef(
    "q255_pct_of_parent",
    (s, dir) => {
      val geo = Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
      // geo = customer ⋈ broadcast dims; customer itself is fact-sized
      // at real SF, so the orders⋈customer equi-join is left to the
      // planner (shuffle or broadcast by stats/AQE) — never forced
      val leaf = Tables.load(s, dir, "orders")
        .join(geo, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).cast(DecimalType(18, 2)).as("rev"))
      val byRegion = Window.partitionBy("r_name")
      val world = Window.partitionBy()
      leaf
        .withColumn("region_rev", sum(col("rev")).over(byRegion).cast(DecimalType(18, 2)))
        .withColumn("world_rev", sum(col("rev")).over(world).cast(DecimalType(18, 2)))
        .select(col("r_name"), col("n_name"),
          col("rev").cast("double").as("rev"),
          (col("rev").cast("double") / col("region_rev").cast("double"))
            .as("share_of_region"),
          (col("rev").cast("double") / col("world_rev").cast("double"))
            .as("share_of_world"),
          (col("region_rev").cast("double") / col("world_rev").cast("double"))
            .as("region_share_of_world"))
        .orderBy("r_name", "n_name")
    },
    Some("""WITH leaf AS (
        SELECT r_name, n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name),
      w AS (
        SELECT r_name, n_name, rev,
          CAST(SUM(rev) OVER (PARTITION BY r_name) AS DECIMAL(18,2)) AS region_rev,
          CAST(SUM(rev) OVER () AS DECIMAL(18,2)) AS world_rev
        FROM leaf)
      SELECT r_name, n_name, CAST(rev AS DOUBLE) AS rev,
        CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE) AS share_of_region,
        CAST(rev AS DOUBLE) / CAST(world_rev AS DOUBLE) AS share_of_world,
        CAST(region_rev AS DOUBLE) / CAST(world_rev AS DOUBLE)
          AS region_share_of_world
      FROM w ORDER BY r_name, n_name"""),
    covers = Seq("A-pct-of-parent"))

  // ------------------------------------------------- proration
  // Largest-remainder apportionment: split a fixed integer budget
  // (1,000,000 micro-units per order) across the order's lineitems
  // proportional to extended price, so the per-order allocations SUM
  // EXACTLY to the budget — the allocation primitive behind cost
  // attribution and pro-rated discounts, where naive rounding leaks
  // units. Pure integer arithmetic end to end: truncating `div` for
  // the floor shares (operands non-negative, so div ≡ floor — the
  // q248-pinned semantics), the exact integer remainder ranks which
  // rows get the +1 top-up (ties broken by linenumber), and the
  // window re-sum proves the invariant in-band (order_total is
  // constant 1,000,000). Per-order windows partition by l_orderkey —
  // at 100 TB this is one hash shuffle of the (filtered) fact, no
  // driver involvement, no doubles anywhere.
  private val q259 = QueryDef(
    "q259_proration",
    (s, dir) => {
      val budget = lit(1000000L)
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
      val wOrd = Window.partitionBy("l_orderkey")
      val based = li
        .withColumn("tot", sum(col("cents")).over(wOrd))
        .withColumn("base", expr("(1000000 * cents) div tot"))
        .withColumn("rem", budget * col("cents") - col("base") * col("tot"))
      val wRem = Window.partitionBy("l_orderkey")
        .orderBy(desc("rem"), asc("l_linenumber"))
      based
        .withColumn("deficit", budget - sum(col("base")).over(wOrd))
        .withColumn("rn", row_number().over(wRem))
        .withColumn("alloc",
          col("base") + when(col("rn") <= col("deficit"), 1L).otherwise(0L))
        .withColumn("order_total", sum(col("alloc")).over(wOrd))
        .select(col("l_orderkey"), col("l_linenumber"), col("cents"),
          col("alloc"), col("order_total"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH li AS (SELECT l_orderkey, l_linenumber,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM lineitem WHERE l_orderkey % 97 = 0),
      w1 AS (SELECT *, CAST(SUM(cents) OVER (PARTITION BY l_orderkey) AS BIGINT) AS tot
             FROM li),
      w2 AS (SELECT *, (1000000 * cents) // tot AS base,
                    1000000 * cents - ((1000000 * cents) // tot) * tot AS rem
             FROM w1),
      w3 AS (SELECT *,
          1000000 - CAST(SUM(base) OVER (PARTITION BY l_orderkey) AS BIGINT) AS deficit,
          ROW_NUMBER() OVER (PARTITION BY l_orderkey
                             ORDER BY rem DESC, l_linenumber) AS rn
        FROM w2),
      w4 AS (SELECT l_orderkey, l_linenumber, cents,
          base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS alloc
        FROM w3)
      SELECT l_orderkey, l_linenumber, cents, alloc,
        CAST(SUM(alloc) OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_total
      FROM w4 ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("A-apportionment"))

  // ------------------------------------------------- RFM segmentation
  // Recency/Frequency/Monetary quintile segmentation — the classic
  // customer-value grid, and a stand-in for any score-quantile
  // bucketing of entities. Each axis is an NTILE(5) over a TOTAL
  // order (metric, then custkey as tiebreak) so bucket assignment is
  // engine independent; the three digits concatenate into one
  // segment code. Per-segment rollup keeps money exact (DECIMAL sum,
  // ONE cast to double at the end) and derives averages from exact
  // long/decimal sums. The un-partitioned NTILE windows run over the
  // per-customer AGGREGATE (|customers| rows, not |orders|) — at
  // 100 TB the per-customer grain still fits a single task's sort,
  // and the heavy orders scan underneath is a hash aggregate.
  private val q261 = QueryDef(
    "q261_rfm_segments",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val maxd = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
      val cust = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("lastd"),
          count(lit(1)).as("f"),
          sum(dec(col("o_totalprice"))).as("m"))
        .crossJoin(broadcast(maxd))
        .withColumn("r_days", datediff(col("maxd"), col("lastd")).cast("long"))
      val rq = ntile(5).over(Window.orderBy(asc("r_days"), asc("o_custkey")))
      val fq = ntile(5).over(Window.orderBy(desc("f"), asc("o_custkey")))
      val mq = ntile(5).over(Window.orderBy(desc("m"), asc("o_custkey")))
      cust
        .withColumn("segment",
          (rq * 100 + fq * 10 + mq).cast("long"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("f")).as("orders_total"),
          sum(col("m")).as("m_sum"),
          sum(col("r_days")).as("r_sum"))
        .select(col("segment"), col("n_customers"), col("orders_total"),
          col("m_sum").cast("double").as("monetary_total"),
          (col("r_sum").cast("double") / col("n_customers").cast("double"))
            .as("avg_recency_days"))
        .orderBy("segment")
    },
    Some("""WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
      cust AS (SELECT o_custkey,
          MAX(CAST(o_orderdate AS DATE)) AS lastd,
          CAST(COUNT(*) AS BIGINT) AS f,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        FROM orders GROUP BY o_custkey),
      scored AS (SELECT c.*,
          CAST(DATE_DIFF('day', lastd, maxd) AS BIGINT) AS r_days
        FROM cust c, maxd),
      tiled AS (SELECT *,
          NTILE(5) OVER (ORDER BY r_days ASC, o_custkey ASC) AS rq,
          NTILE(5) OVER (ORDER BY f DESC, o_custkey ASC) AS fq,
          NTILE(5) OVER (ORDER BY m DESC, o_custkey ASC) AS mq
        FROM scored)
      SELECT CAST(rq * 100 + fq * 10 + mq AS BIGINT) AS segment,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(f) AS BIGINT) AS orders_total,
        CAST(SUM(m) AS DOUBLE) AS monetary_total,
        CAST(SUM(r_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_recency_days
      FROM tiled GROUP BY 1 ORDER BY segment"""),
    covers = Seq("A-rfm"))

  // ------------------------------------------------- new vs returning
  // Weekly audience decomposition: each active user counts as NEW in
  // the ISO week of their first event and RETURNING afterwards — the
  // growth-accounting split behind every DAU/WAU dashboard. The first
  // touch comes from a per-user min() aggregate (map-side combined)
  // joined back to the distinct user-week activity set; both sides
  // shuffle on user_id once. ISO week bucketing is the q247-pinned
  // semantics. Everything is exact counts; the returning share is one
  // division.
  private val q276 = QueryDef(
    "q276_new_vs_returning",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"),
          weekofyear(to_date(col("ts"))).cast("long").as("wk"),
          to_date(col("ts")).as("d"))
      val firstTouch = e.groupBy("user_id").agg(min(col("d")).as("first_d"))
      val active = e.select("user_id", "wk").distinct()
      val firstWk = firstTouch
        .select(col("user_id"),
          weekofyear(col("first_d")).cast("long").as("first_wk"))
      active.join(firstWk, "user_id")
        .groupBy("wk")
        .agg(count(lit(1)).as("active_users"),
          sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
            .as("new_users"))
        .withColumn("returning_users", col("active_users") - col("new_users"))
        .select(col("wk"), col("active_users"), col("new_users"),
          col("returning_users"),
          (col("returning_users").cast("double") /
            col("active_users").cast("double")).as("returning_share"))
        .orderBy("wk")
    },
    Some("""WITH e AS (SELECT user_id,
          CAST(weekofyear(CAST(ts AS DATE)) AS BIGINT) AS wk,
          CAST(ts AS DATE) AS d
        FROM events),
      first_touch AS (SELECT user_id, MIN(d) AS first_d FROM e GROUP BY 1),
      active AS (SELECT DISTINCT user_id, wk FROM e),
      first_wk AS (SELECT user_id,
          CAST(weekofyear(first_d) AS BIGINT) AS first_wk
        FROM first_touch),
      g AS (SELECT wk,
          CAST(COUNT(*) AS BIGINT) AS active_users,
          CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
            AS new_users
        FROM active JOIN first_wk USING (user_id) GROUP BY wk)
      SELECT wk, active_users, new_users,
        active_users - new_users AS returning_users,
        CAST(active_users - new_users AS DOUBLE)
          / CAST(active_users AS DOUBLE) AS returning_share
      FROM g ORDER BY wk"""),
    covers = Seq("A-new-returning"))

  // ------------------------------------------------- attribution
  // First-touch vs last-touch conversion attribution: every purchase
  // credits the first and the last click/view that preceded it within
  // a 7-day lookback. The candidate join keys on user_id (ONE hash
  // shuffle; per-user event counts are bounded, so the per-key fanout
  // is too), then row_number under two total orders picks the two
  // touches. Latencies are integer seconds (µs div 10⁶); the per-
  // (model, touch-type) mean is one division of exact longs.
  private val q278 = QueryDef(
    "q278_attribution",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("t_id"),
          col("event_type").as("touch_type"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val lookbackUs = 7L * 86400L * 1000000L
      val cand = purchases.join(touches, "user_id")
        .filter(col("t_us") <= col("p_us") &&
          col("t_us") > col("p_us") - lookbackUs)
      val wFirst = Window.partitionBy("p_id")
        .orderBy(asc("t_us"), asc("t_id"))
      val wLast = Window.partitionBy("p_id")
        .orderBy(desc("t_us"), desc("t_id"))
      val attributed = cand
        .withColumn("rn_first", row_number().over(wFirst))
        .withColumn("rn_last", row_number().over(wLast))
      val first = attributed.filter(col("rn_first") === 1)
        .select(lit("first_touch").as("model"), col("touch_type"),
          expr("(p_us - t_us) div 1000000").as("latency_s"))
      val last = attributed.filter(col("rn_last") === 1)
        .select(lit("last_touch").as("model"), col("touch_type"),
          expr("(p_us - t_us) div 1000000").as("latency_s"))
      first.unionByName(last)
        .groupBy("model", "touch_type")
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("latency_s")).as("lat_sum"))
        .select(col("model"), col("touch_type"), col("n_conversions"),
          (col("lat_sum").cast("double") / col("n_conversions").cast("double"))
            .as("mean_latency_s"))
        .orderBy("model", "touch_type")
    },
    Some("""WITH touches AS (SELECT user_id, event_id AS t_id,
          event_type AS touch_type, epoch_us(ts) AS t_us
        FROM events WHERE event_type IN ('click', 'view')),
      purchases AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'),
      cand AS (SELECT p.p_id, t.touch_type, p.p_us, t.t_us, t.t_id
        FROM purchases p JOIN touches t USING (user_id)
        WHERE t.t_us <= p.p_us
          AND t.t_us > p.p_us - 7 * 86400 * CAST(1000000 AS BIGINT)),
      attributed AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us ASC, t_id ASC)
            AS rn_first,
          ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us DESC, t_id DESC)
            AS rn_last
        FROM cand),
      unioned AS (
        SELECT 'first_touch' AS model, touch_type,
          (p_us - t_us) // 1000000 AS latency_s
        FROM attributed WHERE rn_first = 1
        UNION ALL
        SELECT 'last_touch' AS model, touch_type,
          (p_us - t_us) // 1000000 AS latency_s
        FROM attributed WHERE rn_last = 1)
      SELECT model, touch_type,
        CAST(COUNT(*) AS BIGINT) AS n_conversions,
        CAST(SUM(latency_s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_latency_s
      FROM unioned GROUP BY 1, 2 ORDER BY model, touch_type"""),
    covers = Seq("A-attribution"))

  // ------------------------------------------------- skyline
  // 2-D skyline (Pareto frontier): per segment, the orders no other
  // order beats on BOTH date and price (minimize each; strict in at
  // least one coordinate). The classic O(n²) domination test
  // collapses to two window minima over ONE sort: a row is dominated
  // iff an earlier-date row has price ≤ p (min over a RANGE frame
  // ending 1 day back) or a same-date row has price < p (min over the
  // date partition). All compares are exact DECIMAL/integer — no
  // float boundary picks the frontier — and the windows share the
  // (segment, day) sort, so Catalyst plans one Exchange + one sort.
  private val q282 = QueryDef(
    "q282_skyline",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").join(
        Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
            .cast("long").as("ed"))
      val wEarlier = Window.partitionBy("seg").orderBy("ed")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSameDay = Window.partitionBy("seg", "ed")
      o.withColumn("m_earlier", min(col("p")).over(wEarlier))
        .withColumn("m_same", min(col("p")).over(wSameDay))
        .filter((col("m_earlier").isNull || col("m_earlier") > col("p")) &&
          col("m_same") >= col("p"))
        .select(col("seg"), col("o_orderkey"), col("ed"),
          col("p").cast("double").as("price"))
        .orderBy("seg", "ed", "o_orderkey")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS seg, o_orderkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS p,
          CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS ed
        FROM orders JOIN customer ON o_custkey = c_custkey),
      w AS (SELECT *,
          MIN(p) OVER (PARTITION BY seg ORDER BY ed
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_earlier,
          MIN(p) OVER (PARTITION BY seg, ed) AS m_same
        FROM o)
      SELECT seg, o_orderkey, ed, CAST(p AS DOUBLE) AS price
      FROM w
      WHERE (m_earlier IS NULL OR m_earlier > p) AND m_same >= p
      ORDER BY seg, ed, o_orderkey"""),
    covers = Seq("A-skyline"))

  // ------------------------------------------------- lead time
  // Fulfillment latency: days from order placement to each line's
  // ship date, summarized per order priority as exact integer-day
  // percentiles (P50/P90/P99 as the VALUE at rank ⌈q·n⌉ — the
  // percentile_disc definition, a pure rank lookup with no
  // interpolation) plus the exact-ratio mean. One fact-to-fact key
  // join (orders broadcast-side aggregated? no — both fact-sized, so
  // it shuffles on orderkey once), then rank windows per priority.
  private val q285 = QueryDef(
    "q285_lead_time",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("p"),
          to_date(col("o_orderdate")).as("od"))
      val lt = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("p"), datediff(col("sd"), col("od")).cast("long").as("days"),
          col("l_orderkey"))
      val wRank = Window.partitionBy("p").orderBy(col("days"), col("l_orderkey"))
      val wAll = Window.partitionBy("p")
      val ranked = lt
        .withColumn("i", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sx", sum(col("days")).over(wAll))
      ranked.groupBy("p")
        .agg(first(col("n")).as("n_lines"),
          max(when(col("i") === expr("(n + 1) div 2"), col("days"))).as("p50"),
          max(when(col("i") === expr("(9 * n + 9) div 10"), col("days")))
            .as("p90"),
          max(when(col("i") === expr("(99 * n + 99) div 100"), col("days")))
            .as("p99"),
          first(col("sx")).as("sx"))
        .select(col("p"), col("n_lines"), col("p50"), col("p90"), col("p99"),
          (col("sx").cast("double") / col("n_lines").cast("double"))
            .as("mean_days"))
        .orderBy("p")
    },
    Some("""WITH lt AS (SELECT o_orderpriority AS p,
          CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE),
            CAST(l_shipdate AS DATE)) AS BIGINT) AS days,
          l_orderkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ranked AS (SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY days, l_orderkey)
            AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS n,
          CAST(SUM(days) OVER (PARTITION BY p) AS BIGINT) AS sx
        FROM lt)
      SELECT p, MIN(n) AS n_lines,
        MAX(CASE WHEN i = (n + 1) // 2 THEN days END) AS p50,
        MAX(CASE WHEN i = (9 * n + 9) // 10 THEN days END) AS p90,
        MAX(CASE WHEN i = (99 * n + 99) // 100 THEN days END) AS p99,
        CAST(MIN(sx) AS DOUBLE) / CAST(MIN(n) AS DOUBLE) AS mean_days
      FROM ranked GROUP BY p ORDER BY p"""),
    covers = Seq("A-lead-time"))

  // ------------------------------------------------- bounce rate
  // Daily bounce rate: share of sessions (30-minute inactivity gaps,
  // q42's sessionization rule) that contain exactly ONE event — the
  // engagement metric every product dashboard leads with. Session ids
  // are a running sum of integer gap-flips per user (the q283 island
  // technique on time instead of type); each session dates to its
  // FIRST event's day; per-day tallies are exact counts and the rate
  // is one division. One user-partitioned window pass + two
  // aggregates — no self-joins at any scale.
  private val q295 = QueryDef(
    "q295_bounce_rate",
    (s, dir) => {
      val gapUs = 30L * 60L * 1000000L
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val sessions = e
        .withColumn("prev", lag(col("us"), 1).over(wSeq))
        .withColumn("flip",
          when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("flip")).over(wRun))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
      sessions
        .withColumn("d", to_date(timestamp_micros(col("start_us"))))
        .groupBy("d")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("bounces"))
        .select(col("d"), col("n_sessions"), col("bounces"),
          (col("bounces").cast("double") / col("n_sessions").cast("double"))
            .as("bounce_rate"))
        .orderBy("d")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      f AS (SELECT *,
          CASE WHEN LAG(us) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) IS NULL
               OR us - LAG(us) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) > 30 * 60 * CAST(1000000 AS BIGINT)
               THEN 1 ELSE 0 END AS flip
        FROM e),
      i AS (SELECT *,
          CAST(SUM(flip) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sid
        FROM f),
      sess AS (SELECT user_id, sid,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          MIN(us) AS start_us
        FROM i GROUP BY 1, 2),
      daily AS (SELECT CAST(make_timestamp(start_us) AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS n_sessions,
          CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS bounces
        FROM sess GROUP BY 1)
      SELECT d, n_sessions, bounces,
        CAST(bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS bounce_rate
      FROM daily ORDER BY d"""),
    covers = Seq("A-bounce-rate"))

  // ------------------------------------------------- band migration
  // Year-over-year value-band transition matrix: quartile-band every
  // customer's annual revenue (NTILE over a total order, like q261's
  // RFM axes), then count how customers MOVE between bands across
  // consecutive years — the upgrade/churn matrix behind lifecycle
  // marketing. The transition join is an equi-join on (customer,
  // year+1); counts are exact and each row's share closes as one
  // division against its from-band total (window sum over the 4×4
  // matrix grain). Revenue stays DECIMAL until banding, which
  // compares by rank, not value.
  private val q296 = QueryDef(
    "q296_band_migration",
    (s, dir) => {
      val cy = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("c"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val banded = cy.withColumn("band",
        ntile(4).over(Window.partitionBy("yr")
          .orderBy(desc("rev"), asc("c"))).cast("long"))
      val from = banded.select(col("c"), col("yr"),
        col("band").as("band_from"))
      val to = banded.select(col("c"), (col("yr") - 1L).as("yr"),
        col("band").as("band_to"))
      val trans = from.join(to, Seq("c", "yr"))
        .groupBy("band_from", "band_to")
        .agg(count(lit(1)).as("n"))
      val wFrom = Window.partitionBy("band_from")
      trans
        .withColumn("from_total", sum(col("n")).over(wFrom))
        .select(col("band_from"), col("band_to"), col("n"),
          (col("n").cast("double") / col("from_total").cast("double"))
            .as("share"))
        .orderBy("band_from", "band_to")
    },
    Some("""WITH cy AS (SELECT o_custkey AS c,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2),
      banded AS (SELECT c, yr,
          CAST(NTILE(4) OVER (PARTITION BY yr ORDER BY rev DESC, c ASC)
            AS BIGINT) AS band
        FROM cy),
      trans AS (SELECT f.band AS band_from, t.band AS band_to,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM banded f JOIN banded t ON t.c = f.c AND t.yr = f.yr + 1
        GROUP BY 1, 2)
      SELECT band_from, band_to, n,
        CAST(n AS DOUBLE) /
          CAST(CAST(SUM(n) OVER (PARTITION BY band_from) AS BIGINT) AS DOUBLE)
          AS share
      FROM trans ORDER BY band_from, band_to"""),
    covers = Seq("A-band-migration"))

  // ------------------------------------------------- catalog coverage
  // Dead-stock audit: per brand, how much of the catalog has never
  // been ordered. One left-anti join of the part dim against the
  // distinct traded part keys (the fact side collapses to its key set
  // FIRST — the aggregate-before-join shape, so the join is
  // dim × distinct-keys, not dim × fact), then exact per-brand
  // tallies and one division.
  private val q299 = QueryDef(
    "q299_catalog_coverage",
    (s, dir) => {
      val traded = Tables.load(s, dir, "lineitem").select(col("l_partkey")).distinct()
      val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val dead = p.join(traded, col("p_partkey") === col("l_partkey"),
        "left_anti")
        .groupBy("p_brand").agg(count(lit(1)).as("n_dead"))
      p.groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
        .join(dead, Seq("p_brand"), "left")
        .withColumn("n_dead", coalesce(col("n_dead"), lit(0L)))
        .select(col("p_brand"), col("n_parts"), col("n_dead"),
          (col("n_dead").cast("double") / col("n_parts").cast("double"))
            .as("dead_share"))
        .orderBy("p_brand")
    },
    Some("""WITH traded AS (SELECT DISTINCT l_partkey FROM lineitem),
      dead AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_dead
        FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM traded)
        GROUP BY 1),
      tot AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1)
      SELECT t.p_brand, t.n_parts, COALESCE(d.n_dead, 0) AS n_dead,
        CAST(COALESCE(d.n_dead, 0) AS DOUBLE) / CAST(t.n_parts AS DOUBLE)
          AS dead_share
      FROM tot t LEFT JOIN dead d ON t.p_brand = d.p_brand
      ORDER BY t.p_brand"""),
    covers = Seq("A-catalog-coverage"))

  // ------------------------------------------------- revenue bridge
  // Why did revenue move? Per segment, the year-over-year delta
  // decomposes into a VOLUME effect ((n₂−n₁)·p̄₁), a RATE effect
  // ((p̄₂−p̄₁)·n₁) and the interaction — the Laspeyres bridge every
  // finance review walks. Inputs are exact (counts, DECIMAL sums);
  // each effect is ONE fixed IEEE tree over them (the average order
  // values are rationals s/n — the trees keep the division innermost
  // and identical on both engines), and the three effects
  // reconstruct the exact delta algebraically. One (segment, year)
  // aggregate + a self-join on year+1.
  private val q301 = QueryDef(
    "q301_revenue_bridge",
    (s, dir) => {
      val sy = Tables.load(s, dir, "orders").join(
        Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val y1 = sy.select(col("seg"), col("yr"),
        col("n").as("n1"), col("rev").as("rev1"))
      val y2 = sy.select(col("seg"), (col("yr") - 1L).as("yr"),
        col("n").as("n2"), col("rev").as("rev2"))
      val p1 = col("rev1").cast("double") / col("n1").cast("double")
      val p2 = col("rev2").cast("double") / col("n2").cast("double")
      y1.join(y2, Seq("seg", "yr"))
        .select(col("seg"), col("yr"), col("n1"), col("n2"),
          col("rev1").cast("double").as("rev_y1"),
          col("rev2").cast("double").as("rev_y2"),
          (col("rev2") - col("rev1")).cast("double").as("delta"),
          ((col("n2") - col("n1")).cast("double") * p1).as("volume_effect"),
          ((p2 - p1) * col("n1").cast("double")).as("rate_effect"),
          ((p2 - p1) * (col("n2") - col("n1")).cast("double"))
            .as("interaction"))
        .orderBy("seg", "yr")
    },
    Some("""WITH sy AS (SELECT c_mktsegment AS seg,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2)
      SELECT a.seg, a.yr, a.n AS n1, b.n AS n2,
        CAST(a.rev AS DOUBLE) AS rev_y1,
        CAST(b.rev AS DOUBLE) AS rev_y2,
        CAST(b.rev - a.rev AS DOUBLE) AS delta,
        CAST(b.n - a.n AS DOUBLE)
          * (CAST(a.rev AS DOUBLE) / CAST(a.n AS DOUBLE)) AS volume_effect,
        (CAST(b.rev AS DOUBLE) / CAST(b.n AS DOUBLE)
          - CAST(a.rev AS DOUBLE) / CAST(a.n AS DOUBLE))
          * CAST(a.n AS DOUBLE) AS rate_effect,
        (CAST(b.rev AS DOUBLE) / CAST(b.n AS DOUBLE)
          - CAST(a.rev AS DOUBLE) / CAST(a.n AS DOUBLE))
          * CAST(b.n - a.n AS DOUBLE) AS interaction
      FROM sy a JOIN sy b ON b.seg = a.seg AND b.yr = a.yr + 1
      ORDER BY a.seg, a.yr"""),
    covers = Seq("A-revenue-bridge"))

  // ------------------------------------------------- waterfall
  // The finance waterfall per year: gross bookings → discount given →
  // net → tax collected → billed, from TPC-H's pricing algebra
  // (extprice · (1−disc) · (1+tax)). Every step is an exact DECIMAL
  // product-sum — discounts and tax rates are 2-decimal fractions, so
  // the per-line amounts are exact at DECIMAL(18,4)/(18,6) and the
  // yearly sums close bit-stably under any partitioning; the derived
  // rates are one division each. The whole report is one scan + one
  // year-grain aggregate.
  private val q303 = QueryDef(
    "q303_revenue_waterfall",
    (s, dir) => {
      val ext = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = col("l_discount").cast(DecimalType(18, 2))
      val tax = col("l_tax").cast(DecimalType(18, 2))
      val discAmt = (ext * disc).cast(DecimalType(18, 4))
      val net = (ext * (lit(1).cast(DecimalType(18, 2)) - disc))
        .cast(DecimalType(18, 4))
      val taxAmt = (net * tax).cast(DecimalType(18, 6))
      Tables.load(s, dir, "lineitem")
        .groupBy(year(to_date(col("l_shipdate"))).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_lines"),
          sum(ext).as("gross"),
          sum(discAmt).as("discount_given"),
          sum(net).as("net"),
          sum(taxAmt).as("tax_collected"))
        .select(col("yr"), col("n_lines"),
          col("gross").cast("double").as("gross"),
          col("discount_given").cast("double").as("discount_given"),
          col("net").cast("double").as("net"),
          col("tax_collected").cast("double").as("tax_collected"),
          (col("discount_given").cast("double") / col("gross").cast("double"))
            .as("discount_rate"),
          (col("tax_collected").cast("double") / col("net").cast("double"))
            .as("effective_tax_rate"))
        .orderBy("yr")
    },
    Some("""WITH li AS (SELECT
          CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
          CAST(l_extendedprice AS DECIMAL(18,2)) AS ext,
          CAST(l_discount AS DECIMAL(18,2)) AS disc,
          CAST(l_tax AS DECIMAL(18,2)) AS tax
        FROM lineitem),
      g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_lines,
          SUM(ext) AS gross,
          SUM(CAST(ext * disc AS DECIMAL(18,4))) AS discount_given,
          SUM(CAST(ext * (CAST(1 AS DECIMAL(18,2)) - disc) AS DECIMAL(18,4)))
            AS net,
          SUM(CAST(CAST(ext * (CAST(1 AS DECIMAL(18,2)) - disc)
                AS DECIMAL(18,4)) * tax AS DECIMAL(18,6))) AS tax_collected
        FROM li GROUP BY yr)
      SELECT yr, n_lines,
        CAST(gross AS DOUBLE) AS gross,
        CAST(discount_given AS DOUBLE) AS discount_given,
        CAST(net AS DOUBLE) AS net,
        CAST(tax_collected AS DOUBLE) AS tax_collected,
        CAST(discount_given AS DOUBLE) / CAST(gross AS DOUBLE)
          AS discount_rate,
        CAST(tax_collected AS DOUBLE) / CAST(net AS DOUBLE)
          AS effective_tax_rate
      FROM g ORDER BY yr"""),
    covers = Seq("A-waterfall"))

  // ------------------------------------------------- relative bands
  // Length bands RELATIVE to each language's own distribution: per
  // lang P25/P75 (percentile_disc, exact order statistics), every doc
  // classified short/mid/long against its language's quartiles. The
  // quartile table is |langs| rows — broadcast back onto the scan, so
  // the classification costs one small-side join at any corpus size.
  private val q315 = QueryDef(
    "q315_relative_length_bands",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val qs = d.groupBy("lang").agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("p25"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("p75"))
      d.join(broadcast(qs), Seq("lang"))
        .withColumn("band",
          when(col("n_chars") < col("p25"), "short")
            .when(col("n_chars") > col("p75"), "long")
            .otherwise("mid"))
        .groupBy("lang", "band")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("schars"))
        .select(col("lang"), col("band"), col("n_docs"),
          col("min_chars"), col("max_chars"),
          (col("schars").cast("double") / col("n_docs").cast("double"))
            .as("mean_chars"))
        .orderBy("lang", "band")
    },
    Some("""WITH qs AS (SELECT lang,
          percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
          percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75
        FROM documents GROUP BY lang),
      b AS (SELECT d.lang,
          CASE WHEN n_chars < p25 THEN 'short'
               WHEN n_chars > p75 THEN 'long'
               ELSE 'mid' END AS band, n_chars
        FROM documents d JOIN qs USING (lang))
      SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars
      FROM b GROUP BY lang, band
      ORDER BY lang, band"""),
    covers = Seq("A-relative-bands"))

  // ------------------------------------------------- dominant behavior
  // Two-level aggregation: each user's dominant event type (argmax
  // with (count desc, type asc) tie-break), then the population
  // profiled by dominant type — how many users, and how dominant the
  // dominant type actually is (ratio of exact sums, NOT a mean of
  // per-user ratios: a sum of rational doubles would be partial-
  // aggregation-order dependent).
  private val q316 = QueryDef(
    "q316_dominant_type_profile",
    (s, dir) => {
      val uc = Tables.load(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id")
        .orderBy(desc("cnt"), asc("event_type"))
      val tot = uc.groupBy("user_id").agg(sum(col("cnt")).as("total"))
      uc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(tot, Seq("user_id"))
        .groupBy(col("event_type").as("dominant_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cnt")).as("events_covered"),
          sum(col("total")).as("total_events"))
        .withColumn("dominance",
          col("events_covered").cast("double") / col("total_events").cast("double"))
        .orderBy("dominant_type")
    },
    Some("""WITH uc AS (SELECT user_id, event_type,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id, event_type),
      tot AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS total
              FROM uc GROUP BY user_id),
      dom AS (SELECT user_id, event_type, cnt,
          row_number() OVER (PARTITION BY user_id
            ORDER BY cnt DESC, event_type) AS rn
        FROM uc)
      SELECT event_type AS dominant_type,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(cnt) AS BIGINT) AS events_covered,
        CAST(SUM(total) AS BIGINT) AS total_events,
        CAST(SUM(cnt) AS DOUBLE) / CAST(SUM(total) AS DOUBLE) AS dominance
      FROM dom JOIN tot USING (user_id)
      WHERE rn = 1
      GROUP BY event_type
      ORDER BY dominant_type"""),
    covers = Seq("A-dominant-profile"))

  // ------------------------------------------------- supplier churn
  // Year-over-year supplier retention per nation: of the suppliers
  // who shipped in year y, how many ship again in y+1 (retained),
  // how many vanish (churned), how many are new. Distinct
  // (nation, year, suppkey) activity sets self-join on (nation,
  // suppkey, y+1) — the distinct collapses the fact table before any
  // join, so the join sides are supplier-cardinality, not
  // fact-cardinality.
  private val q319 = QueryDef(
    "q319_supplier_churn",
    (s, dir) => {
      val act = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").as("nk"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"),
          col("l_suppkey").as("sk"))
        .distinct()
        // materialized once (supplier-cardinality rows): feeds the
        // activity count and BOTH sides of the retention self-join —
        // each re-ran the 3-table fact join + distinct otherwise
        .localCheckpoint()
      val cnt = act.groupBy("nk", "yr").agg(count(lit(1)).as("active"))
      val ret = act.as("a")
        .join(act.as("b"),
          col("a.nk") === col("b.nk") && col("a.sk") === col("b.sk") &&
            col("b.yr") === col("a.yr") + 1)
        .groupBy(col("a.nk").as("nk"), col("a.yr").as("yr"))
        .agg(count(lit(1)).as("retained"))
      val nxt = cnt.select(col("nk"), (col("yr") - 1).as("yr"),
        col("active").as("active_next"))
      cnt.join(nxt, Seq("nk", "yr"))
        .join(ret, Seq("nk", "yr"), "left")
        .withColumn("retained", coalesce(col("retained"), lit(0L)))
        .join(Tables.load(s, dir, "nation"), col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("yr"), col("active"),
          (col("active") - col("retained")).as("churned"),
          (col("active_next") - col("retained")).as("new_next"),
          (col("retained").cast("double") / col("active").cast("double"))
            .as("retention_rate"))
        .orderBy("nation", "yr")
    },
    Some("""WITH act AS (SELECT DISTINCT s_nationkey AS nk,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          l_suppkey AS sk
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey),
      cnt AS (SELECT nk, yr, CAST(COUNT(*) AS BIGINT) AS active
              FROM act GROUP BY nk, yr),
      ret AS (SELECT a.nk, a.yr, CAST(COUNT(*) AS BIGINT) AS retained
              FROM act a JOIN act b
                ON a.nk = b.nk AND a.sk = b.sk AND b.yr = a.yr + 1
              GROUP BY a.nk, a.yr)
      SELECT n_name AS nation, c.yr, c.active,
        c.active - COALESCE(retained, 0) AS churned,
        nx.active - COALESCE(retained, 0) AS new_next,
        CAST(COALESCE(retained, 0) AS DOUBLE) / CAST(c.active AS DOUBLE)
          AS retention_rate
      FROM cnt c
      JOIN cnt nx ON nx.nk = c.nk AND nx.yr = c.yr + 1
      LEFT JOIN ret r ON r.nk = c.nk AND r.yr = c.yr
      JOIN nation ON c.nk = n_nationkey
      ORDER BY nation, c.yr"""),
    covers = Seq("A-churn"))

  // ------------------------------------------------- mix shift
  // How the order-priority mix shifted between the first and last
  // year of the data: share of orders per priority in each endpoint
  // year and the percentage-point delta. The endpoint years are
  // data-driven scalars (min/max year) broadcast onto a 2×|priority|
  // aggregate — no hard-coded calendar.
  private val q321 = QueryDef(
    "q321_priority_mix_shift",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(col("o_orderpriority").as("prio"),
        year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
      val span = o.agg(min(col("yr")).as("y1"), max(col("yr")).as("y2"))
      val counts = o.crossJoin(broadcast(span))
        .filter(col("yr") === col("y1") || col("yr") === col("y2"))
        .groupBy("prio")
        .agg(sum(when(col("yr") === col("y1"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("yr") === col("y2"), 1L).otherwise(0L)).as("c2"))
      val tot = counts.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      counts.crossJoin(broadcast(tot))
        .crossJoin(broadcast(span))
        .select(col("prio"), col("y1"), col("y2"), col("c1"), col("c2"),
          (col("c1").cast("double") / col("t1").cast("double")).as("share_first"),
          (col("c2").cast("double") / col("t2").cast("double")).as("share_last"),
          (col("c2").cast("double") / col("t2").cast("double") -
            col("c1").cast("double") / col("t1").cast("double")).as("delta"))
        .orderBy("prio")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS prio,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM orders),
      span AS (SELECT MIN(yr) AS y1, MAX(yr) AS y2 FROM o),
      counts AS (SELECT prio,
          CAST(SUM(CASE WHEN yr = y1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(SUM(CASE WHEN yr = y2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM o, span WHERE yr = y1 OR yr = y2
        GROUP BY prio),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
          CAST(SUM(c2) AS BIGINT) AS t2 FROM counts)
      SELECT prio, y1, y2, c1, c2,
        CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS share_first,
        CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS share_last,
        CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)
          - CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS delta
      FROM counts, tot, span
      ORDER BY prio"""),
    covers = Seq("A-mix-shift"))

  // ------------------------------------------------- price response
  // Does a deeper discount move more units? Pearson correlation of
  // (discount, quantity) per brand from integer sufficient statistics
  // — both measures are 2-decimal, so ×100 fixed-point makes every
  // sum exact; the q304 pattern with the final products in
  // DECIMAL(38,0) for 10¹²-row safety.
  private val q322 = QueryDef(
    "q322_discount_qty_corr",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          (col("l_discount").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("x"),
          (col("l_quantity").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("y"))
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      val g = li.groupBy("brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = dec(col("n_lines")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den1 = dec(col("n_lines")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val den2 = dec(col("n_lines")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("brand"), col("n_lines"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("corr"))
        .orderBy("brand")
    },
    Some("""WITH li AS (SELECT p_brand AS brand,
          CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      g AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM li GROUP BY brand),
      f AS (SELECT brand, n_lines,
          CAST(n_lines AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n_lines AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n_lines AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT brand, n_lines,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE))) AS corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY brand"""),
    covers = Seq("A-price-response"))

  // ------------------------------------------------- returns trend
  // Monthly return rate two ways: by line count and value-weighted
  // (returned revenue / total revenue) — the two diverge when returns
  // skew expensive, which is exactly what the audit looks for. One
  // scan, one month-grain aggregate; rates are divisions of an exact
  // long and two exact DECIMAL(18,4) sums.
  private val q324 = QueryDef(
    "q324_returns_trend",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      Tables.load(s, dir, "lineitem")
        .groupBy(date_trunc("month", to_date(col("l_shipdate")))
          .cast("date").as("month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"),
          sum(rev).as("rev"),
          sum(when(col("l_returnflag") === "R", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).as("rev_returned"))
        .select(col("month"), col("n_lines"), col("n_returned"),
          (col("n_returned").cast("double") / col("n_lines").cast("double"))
            .as("return_rate"),
          (col("rev_returned").cast("double") / col("rev").cast("double"))
            .as("value_return_rate"))
        .orderBy("month")
    },
    Some("""WITH li AS (SELECT
          CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
          l_returnflag,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS rev
        FROM lineitem),
      g AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_returned,
          SUM(rev) AS rev,
          SUM(CASE WHEN l_returnflag = 'R' THEN rev
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev_returned
        FROM li GROUP BY month)
      SELECT month, n_lines, n_returned,
        CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS return_rate,
        CAST(rev_returned AS DOUBLE) / CAST(rev AS DOUBLE)
          AS value_return_rate
      FROM g ORDER BY month"""),
    covers = Seq("A-returns-trend"))

  // ------------------------------------------------- fulfillment progress
  // Per order the fraction of lines already finalized (l_linestatus
  // 'F'), bucketed to a progress decile; per order-year the bucket
  // histogram. The per-order ratio is exact (10·f DIV n buckets an
  // integral division), so the two-level aggregate never touches a
  // float until the final share.
  private val q325 = QueryDef(
    "q325_fulfillment_progress",
    (s, dir) => {
      val per = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("f"))
        .withColumn("bucket", expr("(10 * f) DIV n"))
      val g = per.groupBy("yr", "bucket").agg(count(lit(1)).as("n_orders"))
      val tot = per.groupBy("yr").agg(count(lit(1)).as("t"))
      g.join(tot, Seq("yr"))
        .select(col("yr"), col("bucket"), col("n_orders"),
          (col("n_orders").cast("double") / col("t").cast("double"))
            .as("share"))
        .orderBy("yr", "bucket")
    },
    Some("""WITH per AS (SELECT l_orderkey,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS f
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey, yr),
      b AS (SELECT yr, (10 * f) // n AS bucket FROM per),
      g AS (SELECT yr, bucket, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM b GROUP BY yr, bucket),
      tot AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS t FROM b GROUP BY yr)
      SELECT yr, bucket, n_orders,
        CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE) AS share
      FROM g JOIN tot USING (yr)
      ORDER BY yr, bucket"""),
    covers = Seq("A-progress-histogram"))

  // ------------------------------------------------- line-position effect
  // Do later line positions in an order carry smaller quantities?
  // Mean quantity and mean revenue per l_linenumber, each a ratio of
  // exact sums, plus the ratio against position 1 (broadcast scalar
  // join) — a classic position-bias audit with no window at all.
  private val q326 = QueryDef(
    "q326_line_position_effect",
    (s, dir) => {
      val qty = col("l_quantity").cast(DecimalType(18, 2))
      val g = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_linenumber").cast(LongType).as("pos"))
        .agg(count(lit(1)).as("n_lines"), sum(qty).as("sq"))
        .withColumn("mean_qty",
          col("sq").cast("double") / col("n_lines").cast("double"))
      val base = g.filter(col("pos") === 1)
        .select(col("sq").as("sq1"), col("n_lines").as("n1"))
      g.crossJoin(broadcast(base))
        .select(col("pos"), col("n_lines"), col("mean_qty"),
          ((col("sq").cast("double") / col("n_lines").cast("double")) /
            (col("sq1").cast("double") / col("n1").cast("double")))
            .as("vs_first"))
        .orderBy("pos")
    },
    Some("""WITH g AS (SELECT CAST(l_linenumber AS BIGINT) AS pos,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        FROM lineitem GROUP BY pos),
      base AS (SELECT sq AS sq1, n_lines AS n1 FROM g WHERE pos = 1)
      SELECT pos, n_lines,
        CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mean_qty,
        (CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE))
          / (CAST(sq1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS vs_first
      FROM g, base
      ORDER BY pos"""),
    covers = Seq("A-position-effect"))

  // ------------------------------------------------- sourcing complexity
  // How many distinct suppliers and supplier nations an order touches:
  // the multi-sourcing histogram (1 supplier, 2, 3+ …) with the share
  // of orders and of revenue in each class — supply-chain coordination
  // cost in one table. Per-order distincts shuffle on the order key
  // once; the histogram is tiny.
  private val q327 = QueryDef(
    "q327_sourcing_complexity",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      // two-level aggregate: the direct double-countDistinct plans an
      // Expand that triples every fact row; pre-aggregating revenue per
      // (order, supplier) first keeps map-side combine, and nationkey
      // is FUNCTIONALLY DETERMINED by suppkey so the per-supplier frame
      // loses nothing — n_supp becomes a plain count and only the
      // already-shrunk frame pays the one remaining distinct
      // (round 12: the direct double-countDistinct form was re-A/B'd
      // in-session — 2.72 vs 3.09 s, the Expand is still worse — the
      // two-level shape stays)
      val perSupp = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"), col("s_nationkey"))
        .agg(sum(rev).as("rev_s"))
      val per = perSupp
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          countDistinct(col("s_nationkey")).as("n_nations"),
          sum(col("rev_s")).as("rev"))
      val tot = per.agg(count(lit(1)).as("t_orders"), sum(col("rev")).as("t_rev"))
      per.groupBy("n_supp")
        .agg(count(lit(1)).as("n_orders"),
          max(col("n_nations")).as("max_nations"),
          sum(col("rev")).as("class_rev"))
        .crossJoin(broadcast(tot))
        .select(col("n_supp"), col("n_orders"), col("max_nations"),
          (col("n_orders").cast("double") / col("t_orders").cast("double"))
            .as("order_share"),
          (col("class_rev").cast("double") / col("t_rev").cast("double"))
            .as("revenue_share"))
        .orderBy("n_supp")
    },
    Some("""WITH per AS (SELECT l_orderkey,
          CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
          CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY l_orderkey),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_orders,
          SUM(rev) AS t_rev FROM per)
      SELECT n_supp, CAST(COUNT(*) AS BIGINT) AS n_orders,
        MAX(n_nations) AS max_nations,
        CAST(COUNT(*) AS DOUBLE) / CAST(t_orders AS DOUBLE) AS order_share,
        CAST(SUM(rev) AS DOUBLE) / CAST(t_rev AS DOUBLE) AS revenue_share
      FROM per, tot
      GROUP BY n_supp, t_orders, t_rev
      ORDER BY n_supp"""),
    covers = Seq("A-sourcing-complexity"))

  // ------------------------------------------------- day-of-month uniformity
  // Synthetic-data tell / batch-artifact detector: order volume by
  // day-of-month with each day's chi-square contribution against the
  // uniform expectation. Expected counts are exact rationals (total/
  // n_days kept as numerator·denominator integers); the contribution
  // (o·d − t)²/(t·d) is evaluated as one fixed IEEE tree over exact
  // longs — no ln, no rounding.
  private val q328 = QueryDef(
    "q328_dom_uniformity",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(dayofmonth(to_date(col("o_orderdate"))).cast(LongType).as("dom"))
      val g = o.groupBy("dom").agg(count(lit(1)).as("obs"))
      val tot = g.agg(sum(col("obs")).as("t"), count(lit(1)).as("d"))
      g.crossJoin(broadcast(tot))
        .select(col("dom"), col("obs"),
          (col("t").cast("double") / col("d").cast("double")).as("expected"),
          (((col("obs") * col("d") - col("t")) *
            (col("obs") * col("d") - col("t"))).cast("double") /
            (col("t") * col("d")).cast("double")).as("chi2_part"))
        .orderBy("dom")
    },
    Some("""WITH o AS (SELECT
          CAST(EXTRACT(day FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS dom
        FROM orders),
      g AS (SELECT dom, CAST(COUNT(*) AS BIGINT) AS obs FROM o GROUP BY dom),
      tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS t,
          CAST(COUNT(*) AS BIGINT) AS d FROM g)
      SELECT dom, obs,
        CAST(t AS DOUBLE) / CAST(d AS DOUBLE) AS expected,
        CAST((obs * d - t) * (obs * d - t) AS DOUBLE)
          / CAST(t * d AS DOUBLE) AS chi2_part
      FROM g, tot
      ORDER BY dom"""),
    covers = Seq("A-calendar-uniformity"))

  // ------------------------------------------------- audience overlap
  // Jaccard overlap of user audiences between event-type pairs: do
  // the same users click and purchase, or are the populations
  // disjoint? Distinct (type, user) postings self-join on user — the
  // |types|² matrix from sets collapsed to user cardinality first.
  private val q333 = QueryDef(
    "q333_audience_overlap",
    (s, dir) => {
      val a = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sz = a.groupBy("event_type").agg(count(lit(1)).as("n"))
      val inter = a.as("x").join(a.as("y"), Seq("user_id"))
        .filter(col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(sz.select(col("event_type").as("type_a"), col("n").as("na")),
          Seq("type_a"))
        .join(sz.select(col("event_type").as("type_b"), col("n").as("nb")),
          Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          (col("n_both").cast("double") /
            (col("na") + col("nb") - col("n_both")).cast("double"))
            .as("jaccard"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
      sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
             FROM a GROUP BY event_type),
      inter AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
          CAST(COUNT(*) AS BIGINT) AS n_both
        FROM a x JOIN a y ON x.user_id = y.user_id
          AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT type_a, type_b, n_both,
        CAST(n_both AS DOUBLE) / CAST(na.n + nb.n - n_both AS DOUBLE) AS jaccard
      FROM inter
      JOIN sz na ON na.event_type = type_a
      JOIN sz nb ON nb.event_type = type_b
      ORDER BY type_a, type_b"""),
    covers = Seq("A-audience-overlap"))

  // ------------------------------------------------- exit states
  // Where do users end? The distribution of each user's LAST event
  // type ((ts, event_id) total order) — the exit-state table of a
  // churn analysis, with the share per exit type. One window, one
  // aggregate.
  private val q336 = QueryDef(
    "q336_exit_state",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      val last = Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val g = last.groupBy(col("event_type").as("exit_type"))
        .agg(count(lit(1)).as("n_users"))
      val tot = g.agg(sum(col("n_users")).as("t"))
      g.crossJoin(broadcast(tot))
        .select(col("exit_type"), col("n_users"),
          (col("n_users").cast("double") / col("t").cast("double"))
            .as("share"))
        .orderBy("exit_type")
    },
    Some("""WITH last AS (SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      g AS (SELECT event_type AS exit_type, CAST(COUNT(*) AS BIGINT)
          AS n_users
        FROM last WHERE rn = 1 GROUP BY event_type),
      tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS t FROM g)
      SELECT exit_type, n_users,
        CAST(n_users AS DOUBLE) / CAST(t AS DOUBLE) AS share
      FROM g, tot
      ORDER BY exit_type"""),
    covers = Seq("A-exit-state"))

  // ------------------------------------------------- repeat-rate cohorts
  // Customers cohorted by first-order year: cohort size, repeat rate
  // (≥2 lifetime orders), and mean lifetime orders — did early
  // cohorts stick better? Cohort assignment is a min over the
  // customer's orders; every rate is one exact division.
  private val q340 = QueryDef(
    "q340_repeat_rate_cohort",
    (s, dir) => {
      val per = Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(year(to_date(col("o_orderdate"))).cast(LongType))
          .as("cohort"),
          count(lit(1)).as("n_orders"))
      per.groupBy("cohort")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("repeaters"),
          sum(col("n_orders")).as("orders"))
        .select(col("cohort"), col("n_customers"), col("repeaters"),
          (col("repeaters").cast("double") / col("n_customers").cast("double"))
            .as("repeat_rate"),
          (col("orders").cast("double") / col("n_customers").cast("double"))
            .as("mean_orders"))
        .orderBy("cohort")
    },
    Some("""WITH per AS (SELECT o_custkey,
          MIN(CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT))
            AS cohort,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey)
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS repeaters,
        CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS repeat_rate,
        CAST(SUM(n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_orders
      FROM per GROUP BY cohort
      ORDER BY cohort"""),
    covers = Seq("A-repeat-cohort"))

  // ------------------------------------------------- new-product share
  // Of each year's revenue, how much comes from parts first sold that
  // same year — the innovation-dependence ratio. Part birth year is a
  // min over the part's lines (one aggregate at part cardinality,
  // broadcast back); the share is exact DECIMAL over DECIMAL.
  private val q341 = QueryDef(
    "q341_new_product_share",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), rev.as("r"),
          year(to_date(col("l_shipdate"))).cast(LongType).as("yr"))
      val birth = li.groupBy("l_partkey").agg(min(col("yr")).as("birth"))
      li.join(broadcast(birth), Seq("l_partkey"))
        .groupBy("yr")
        .agg(sum(col("r")).cast(DecimalType(38, 4)).as("total_rev"),
          sum(when(col("birth") === col("yr"), col("r"))
            .otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(38, 4)).as("new_rev"),
          countDistinct(when(col("birth") === col("yr"), col("l_partkey")))
            .as("n_new_parts"))
        .select(col("yr"), col("n_new_parts"),
          col("total_rev").cast("double").as("total_rev"),
          col("new_rev").cast("double").as("new_rev"),
          (col("new_rev").cast("double") / col("total_rev").cast("double"))
            .as("new_share"))
        .orderBy("yr")
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r,
          CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS yr
        FROM lineitem),
      birth AS (SELECT l_partkey, MIN(yr) AS birth FROM li
                GROUP BY l_partkey),
      g AS (SELECT yr,
          CAST(SUM(r) AS DECIMAL(38,4)) AS total_rev,
          CAST(SUM(CASE WHEN birth = yr THEN r
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS new_rev,
          CAST(COUNT(DISTINCT CASE WHEN birth = yr THEN l_partkey END)
            AS BIGINT) AS n_new_parts
        FROM li JOIN birth USING (l_partkey)
        GROUP BY yr)
      SELECT yr, n_new_parts,
        CAST(total_rev AS DOUBLE) AS total_rev,
        CAST(new_rev AS DOUBLE) AS new_rev,
        CAST(new_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) AS new_share
      FROM g ORDER BY yr"""),
    covers = Seq("A-new-product"))

  // ------------------------------------------------- weekend effect
  // Weekend vs weekday order economics per customer nation: order
  // counts, mean order value for each regime, and the weekend/weekday
  // value ratio — exact DECIMAL totals, three terminal divisions.
  private val q342 = QueryDef(
    "q342_weekend_effect",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("v"),
          (dayofweek(to_date(col("o_orderdate"))).isin(1, 7)).as("wkend"))
      o.groupBy("nation")
        .agg(sum(when(col("wkend"), 1L).otherwise(0L)).as("we_orders"),
          sum(when(!col("wkend"), 1L).otherwise(0L)).as("wd_orders"),
          sum(when(col("wkend"), col("v"))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).as("we_rev"),
          sum(when(!col("wkend"), col("v"))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).as("wd_rev"))
        .filter(col("we_orders") > 0 && col("wd_orders") > 0)
        .select(col("nation"), col("we_orders"), col("wd_orders"),
          (col("we_rev").cast("double") / col("we_orders").cast("double"))
            .as("we_mean"),
          (col("wd_rev").cast("double") / col("wd_orders").cast("double"))
            .as("wd_mean"),
          ((col("we_rev").cast("double") / col("we_orders").cast("double")) /
            (col("wd_rev").cast("double") / col("wd_orders").cast("double")))
            .as("weekend_lift"))
        .orderBy("nation")
    },
    Some("""WITH o AS (SELECT n_name AS nation,
          CAST(o_totalprice AS DECIMAL(18,2)) AS v,
          dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6) AS wkend
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      g AS (SELECT nation,
          CAST(SUM(CASE WHEN wkend THEN 1 ELSE 0 END) AS BIGINT) AS we_orders,
          CAST(SUM(CASE WHEN NOT wkend THEN 1 ELSE 0 END) AS BIGINT)
            AS wd_orders,
          SUM(CASE WHEN wkend THEN v ELSE CAST(0 AS DECIMAL(18,2)) END)
            AS we_rev,
          SUM(CASE WHEN NOT wkend THEN v ELSE CAST(0 AS DECIMAL(18,2)) END)
            AS wd_rev
        FROM o GROUP BY nation)
      SELECT nation, we_orders, wd_orders,
        CAST(we_rev AS DOUBLE) / CAST(we_orders AS DOUBLE) AS we_mean,
        CAST(wd_rev AS DOUBLE) / CAST(wd_orders AS DOUBLE) AS wd_mean,
        (CAST(we_rev AS DOUBLE) / CAST(we_orders AS DOUBLE))
          / (CAST(wd_rev AS DOUBLE) / CAST(wd_orders AS DOUBLE))
          AS weekend_lift
      FROM g WHERE we_orders > 0 AND wd_orders > 0
      ORDER BY nation"""),
    covers = Seq("A-weekend-effect"))

  // ------------------------------------------------- nation growth
  // Revenue growth per supplier nation between the first and last
  // full data year: exact DECIMAL endpoint revenues and the linear
  // growth rate (last−first)/first — no CAGR (pow() ULP-diverges
  // across libm, like ln in q52).
  private val q343 = QueryDef(
    "q343_nation_growth",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), rev.as("r"),
          year(to_date(col("l_shipdate"))).cast(LongType).as("yr"))
      val span = li.agg(min(col("yr")).as("y1"), max(col("yr")).as("y2"))
      li.crossJoin(broadcast(span))
        .filter(col("yr") === col("y1") || col("yr") === col("y2"))
        .groupBy("nation")
        .agg(first(col("y1")).as("y_first"), first(col("y2")).as("y_last"),
          sum(when(col("yr") === col("y1"), col("r"))
            .otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(38, 4)).as("rev_first"),
          sum(when(col("yr") === col("y2"), col("r"))
            .otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(38, 4)).as("rev_last"))
        .filter(col("rev_first") > 0)
        .select(col("nation"), col("y_first"), col("y_last"),
          col("rev_first").cast("double").as("rev_first"),
          col("rev_last").cast("double").as("rev_last"),
          ((col("rev_last") - col("rev_first")).cast("double") /
            col("rev_first").cast("double")).as("growth"))
        .orderBy("nation")
    },
    Some("""WITH li AS (SELECT n_name AS nation,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r,
          CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS yr
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey),
      span AS (SELECT MIN(yr) AS y1, MAX(yr) AS y2 FROM li),
      g AS (SELECT nation, MIN(y1) AS y_first, MIN(y2) AS y_last,
          CAST(SUM(CASE WHEN yr = y1 THEN r ELSE CAST(0 AS DECIMAL(18,4))
            END) AS DECIMAL(38,4)) AS rev_first,
          CAST(SUM(CASE WHEN yr = y2 THEN r ELSE CAST(0 AS DECIMAL(18,4))
            END) AS DECIMAL(38,4)) AS rev_last
        FROM li, span WHERE yr = y1 OR yr = y2
        GROUP BY nation)
      SELECT nation, y_first, y_last,
        CAST(rev_first AS DOUBLE) AS rev_first,
        CAST(rev_last AS DOUBLE) AS rev_last,
        CAST(rev_last - rev_first AS DOUBLE) / CAST(rev_first AS DOUBLE)
          AS growth
      FROM g WHERE rev_first > 0
      ORDER BY nation"""),
    covers = Seq("A-growth"))

  // ------------------------------------------------- basket depth
  // Mean order value as a function of basket depth (line count):
  // does a deeper basket mean proportionally more revenue? Per-order
  // rollup, then depth buckets with exact DECIMAL totals and one
  // division — the curve a pricing model reads.
  private val q345 = QueryDef(
    "q345_basket_depth_curve",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      val per = Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("depth"), sum(rev).as("r"))
      per.groupBy("depth")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("r")).cast(DecimalType(38, 4)).as("tot"))
        .select(col("depth"), col("n_orders"),
          (col("tot").cast("double") / col("n_orders").cast("double"))
            .as("mean_order_value"),
          (col("tot").cast("double") /
            (col("n_orders") * col("depth")).cast("double"))
            .as("mean_line_value"))
        .orderBy("depth")
    },
    Some("""WITH per AS (SELECT l_orderkey,
          CAST(COUNT(*) AS BIGINT) AS depth,
          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS r
        FROM lineitem GROUP BY l_orderkey),
      g AS (SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(r) AS DECIMAL(38,4)) AS tot
        FROM per GROUP BY depth)
      SELECT depth, n_orders,
        CAST(tot AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_order_value,
        CAST(tot AS DOUBLE) / CAST(n_orders * depth AS DOUBLE)
          AS mean_line_value
      FROM g ORDER BY depth"""),
    covers = Seq("A-basket-depth"))

  // ------------------------------------------------- ABC classification
  // Inventory ABC: parts ranked by revenue, class A = the prefix
  // holding ≤80% of revenue, B to 95%, C the tail. The cutoffs
  // compare exact DECIMALs (5·cum ≤ 4·total, 20·cum ≤ 19·total) so
  // the boundary part lands identically on both engines. One ranked
  // window at part cardinality, then a three-row rollup.
  private val q349 = QueryDef(
    "q349_abc_classification",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      val per = Tables.load(s, dir, "lineitem")
        .groupBy("l_partkey").agg(sum(rev).cast(DecimalType(38, 4)).as("r"))
      val w = Window.orderBy(desc("r"), asc("l_partkey"))
      val tot = per.agg(sum(col("r")).cast(DecimalType(38, 4)).as("t"),
        count(lit(1)).as("np"))
      val cum = per
        .withColumn("cum", sum(col("r")).over(w).cast(DecimalType(38, 4)))
        .crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum") * 5 <= col("t") * 4, "A")
            .when(col("cum") * 20 <= col("t") * 19, "B")
            .otherwise("C"))
      cum.groupBy("cls")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("r")).cast(DecimalType(38, 4)).as("cls_rev"),
          first(col("t")).as("t"), first(col("np")).as("np"))
        .select(col("cls"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("part_share"),
          (col("cls_rev").cast("double") / col("t").cast("double"))
            .as("rev_share"))
        .orderBy("cls")
    },
    Some("""WITH per AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS r
        FROM lineitem GROUP BY l_partkey),
      tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,4)) AS t,
          CAST(COUNT(*) AS BIGINT) AS np FROM per),
      c AS (SELECT r,
          CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey) AS DECIMAL(38,4))
            AS cum
        FROM per),
      k AS (SELECT r, CASE WHEN cum * 5 <= t * 4 THEN 'A'
            WHEN cum * 20 <= t * 19 THEN 'B' ELSE 'C' END AS cls, t, np
        FROM c, tot)
      SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(np) AS DOUBLE) AS part_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE)
          / CAST(MIN(t) AS DOUBLE) AS rev_share
      FROM k GROUP BY cls
      ORDER BY cls"""),
    covers = Seq("A-abc"))

  // ------------------------------------------------- sequence asymmetry
  // Temporal ordering bias between event-type pairs: of the users who
  // perform both A and B, how many saw A strictly first? First-
  // occurrence times per (user, type) collapse the log once; the
  // pair join runs at user cardinality. 0.5 = no ordering convention.
  private val q356 = QueryDef(
    "q356_sequence_asymmetry",
    (s, dir) => {
      val firsts = Tables.load(s, dir, "events")
        .groupBy("user_id", "event_type").agg(min(col("ts")).as("first_ts"))
      firsts.as("a").join(firsts.as("b"), Seq("user_id"))
        .filter(col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("a.first_ts") < col("b.first_ts"), 1L).otherwise(0L))
            .as("a_first"),
          sum(when(col("b.first_ts") < col("a.first_ts"), 1L).otherwise(0L))
            .as("b_first"))
        .select(col("type_a"), col("type_b"), col("n_users"),
          col("a_first"), col("b_first"),
          (col("a_first").cast("double") / col("n_users").cast("double"))
            .as("a_first_rate"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH firsts AS (SELECT user_id, event_type, MIN(ts) AS first_ts
          FROM events GROUP BY user_id, event_type)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END)
          AS BIGINT) AS a_first,
        CAST(SUM(CASE WHEN b.first_ts < a.first_ts THEN 1 ELSE 0 END)
          AS BIGINT) AS b_first,
        CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS a_first_rate
      FROM firsts a JOIN firsts b ON a.user_id = b.user_id
        AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
      ORDER BY type_a, type_b"""),
    covers = Seq("A-seq-asymmetry"))

  // ------------------------------------------------- funnel latency
  // How long from first click to first purchase, for users who did
  // both and in that order: the latency distribution (P25/P50/P90 in
  // seconds, exact order statistics over integral epoch diffs) plus
  // the conversion count — q132 counts the funnel, this prices its
  // speed.
  private val q357 = QueryDef(
    "q357_funnel_latency",
    (s, dir) => {
      val firsts = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "click", col("ts")))
          .as("first_click"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .filter(col("first_click").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_click"))
        .withColumn("latency_s",
          expr("(unix_micros(first_purchase) - unix_micros(first_click))" +
            " DIV 1000000"))
      firsts.agg(count(lit(1)).as("n_converted"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY latency_s)")
          .cast(LongType).as("p25_s"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)")
          .cast(LongType).as("p50_s"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)")
          .cast(LongType).as("p90_s"),
        max(col("latency_s")).as("max_s"))
    },
    Some("""WITH firsts AS (SELECT user_id,
          MIN(CASE WHEN event_type = 'click' THEN ts END) AS fc,
          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id),
      lat AS (SELECT
          CAST((epoch_us(fp) - epoch_us(fc)) // 1000000 AS BIGINT)
            AS latency_s
        FROM firsts
        WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp > fc)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY latency_s)
          AS BIGINT) AS p25_s,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)
          AS BIGINT) AS p50_s,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)
          AS BIGINT) AS p90_s,
        MAX(latency_s) AS max_s
      FROM lat"""),
    covers = Seq("A-funnel-latency"))

  // ------------------------------------------------- brand loyalty
  // Loyalty segmentation: customers by distinct-brand breadth
  // (1 brand = loyal, 2–3, 4+) with each segment's customer count and
  // exact revenue share — does breadth buy more than loyalty? The
  // per-customer rollup shuffles once on the customer key.
  private val q358 = QueryDef(
    "q358_brand_loyalty",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      // measured (same-JVM interleaved A/B, round 9): the two-level
      // (customer, brand) pre-aggregate that beats Expand elsewhere is
      // SLOWER here — the Expand duplicates only a 3-byte brand column
      // while the pre-agg pays a second full shuffle — so the direct
      // countDistinct shape stays
      val per = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("p_brand")).as("n_brands"),
          sum(rev).cast(DecimalType(38, 4)).as("r"))
        .withColumn("segment",
          when(col("n_brands") === 1, "1_loyal")
            .when(col("n_brands") <= 3, "2_mixed")
            .otherwise("3_broad"))
      val tot = per.agg(sum(col("r")).cast(DecimalType(38, 4)).as("t"),
        count(lit(1)).as("nc"))
      per.groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("r")).cast(DecimalType(38, 4)).as("seg_rev"))
        .crossJoin(broadcast(tot))
        .select(col("segment"), col("n_customers"),
          (col("n_customers").cast("double") / col("nc").cast("double"))
            .as("customer_share"),
          (col("seg_rev").cast("double") / col("t").cast("double"))
            .as("revenue_share"),
          (col("seg_rev").cast("double") / col("n_customers").cast("double"))
            .as("rev_per_customer"))
        .orderBy("segment")
    },
    Some("""WITH per AS (SELECT o_custkey,
          CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS r
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey),
      seg AS (SELECT CASE WHEN n_brands = 1 THEN '1_loyal'
            WHEN n_brands <= 3 THEN '2_mixed' ELSE '3_broad' END AS segment,
          r FROM per),
      tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,4)) AS t,
          CAST(COUNT(*) AS BIGINT) AS nc FROM per)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(nc) AS DOUBLE) AS customer_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE) / CAST(MIN(t) AS DOUBLE)
          AS revenue_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS rev_per_customer
      FROM seg, tot GROUP BY segment
      ORDER BY segment"""),
    covers = Seq("A-loyalty"))

  // ------------------------------------------------- user-age curve
  // Activity by user age: events per days-since-first-event index,
  // aligned across users — the lifecycle curve (do users warm up or
  // burn out?). First-event times collapse the log once; the age
  // index is an exact date diff.
  private val q360 = QueryDef(
    "q360_user_age_curve",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("d"))
      val first = e.groupBy("user_id").agg(min(col("d")).as("d0"))
      val aged = e.join(first, Seq("user_id"))
        .withColumn("age_d", datediff(col("d"), col("d0")).cast(LongType))
      val g = aged.groupBy("age_d")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      g.filter(col("age_d") <= 13)
        .select(col("age_d"), col("n_events"), col("n_users"),
          (col("n_events").cast("double") / col("n_users").cast("double"))
            .as("events_per_user"))
        .orderBy("age_d")
    },
    Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      f AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY user_id),
      aged AS (SELECT e.user_id, CAST(d - d0 AS BIGINT) AS age_d
        FROM e JOIN f USING (user_id)),
      g AS (SELECT age_d, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM aged GROUP BY age_d)
      SELECT age_d, n_events, n_users,
        CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE) AS events_per_user
      FROM g WHERE age_d <= 13
      ORDER BY age_d"""),
    covers = Seq("A-user-age"))

  // ------------------------------------------------- price dispersion
  // Does the same part sell at wildly different effective unit
  // prices? Per part the exact P10/P50/P90 of the unit price in
  // cents, dispersion = (P90−P10)/P50; per brand the MEDIAN part
  // dispersion (an order statistic — no rational-double summation at
  // all). Unit cents floor exactly in INTEGER arithmetic:
  // floor(net·100/qty) = (net·10⁴) DIV (100·qty) — decimal division
  // would round the quotient at engine-specific scales before the
  // floor, integer division cannot.
  private val q361 = QueryDef(
    "q361_price_dispersion",
    (s, dir) => {
      val n4 = ((col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
        .cast(DecimalType(18, 4)) * 10000).cast(LongType)
      val cents = expr("n4 DIV (100 * qty)")
      val withC = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"), col("l_partkey").as("pk"),
          n4.as("n4"), col("l_quantity").cast(LongType).as("qty"))
        .select(col("brand"), col("pk"), cents.as("c"))
      // ExactQuantiles rank-select (round 12): the round-9 "wash at
      // sf0.1 AND sf1" adjudication for this many-small-groups shape
      // no longer holds under the r11 heap/GC fixes — in-session A/B
      // now measures the built-in ObjectHashAggregate at 3.06→2.43
      // and 3.09→2.15 s (sf0.1) and 3.37→2.41 s (sf1 rung), because
      // the dominant job was the 3-buffer percentile aggregate, not
      // the extra exchange. n_sales: `c` is never null (qty ≥ 1 in
      // every SF — integer division of non-null longs), so
      // __group_n ≡ count(*); the oracle hash-checks that equivalence
      // at every gate SF. Values are bit-identical by ExactQuantilesSpec.
      val per = graft.operators.ExactQuantiles
        .disc(withC, Seq("brand", "pk"), "c",
          Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)))
        .select(col("brand"), col("pk"), col("__group_n").as("n_sales"),
          col("p10").cast(LongType).as("p10"),
          col("p50").cast(LongType).as("p50"),
          col("p90").cast(LongType).as("p90"))
        .filter(col("n_sales") >= 3 && col("p50") > 0)
        .withColumn("disp",
          (col("p90") - col("p10")).cast("double") / col("p50").cast("double"))
      per.groupBy("brand")
        .agg(count(lit(1)).as("n_parts"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY disp)")
            .as("median_dispersion"))
        .orderBy("brand")
    },
    Some("""WITH li AS (SELECT p_brand AS brand, l_partkey AS pk,
          CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) * 10000 AS BIGINT)
            // (100 * CAST(l_quantity AS BIGINT)) AS c
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      per AS (SELECT brand, pk, CAST(COUNT(*) AS BIGINT) AS n_sales,
          CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p10,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p50,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p90
        FROM li GROUP BY brand, pk),
      d AS (SELECT brand, pk,
          CAST(p90 - p10 AS DOUBLE) / CAST(p50 AS DOUBLE) AS disp
        FROM per WHERE n_sales >= 3 AND p50 > 0)
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY disp)
          AS median_dispersion
      FROM d GROUP BY brand
      ORDER BY brand"""),
    covers = Seq("A-price-dispersion"))

  // ------------------------------------------------- bucket skew audit
  // Would hashing orders into 32 shuffle buckets balance? The md5-
  // bucket histogram with max/mean ratio and the uniformity chi² —
  // the skew forecast run before choosing a partition key (the same
  // engine-agnostic md5 both engines agree on, q346). Exact counts;
  // two divisions.
  private val q362 = QueryDef(
    "q362_bucket_skew_audit",
    (s, dir) => {
      val b = Tables.load(s, dir, "orders")
        .select((conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
          16, 10).cast(LongType) % 32).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val tot = b.agg(sum(col("n")).as("t"), count(lit(1)).as("k"),
        max(col("n")).as("mx"))
      b.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"),
          (col("n").cast("double") * col("k").cast("double") /
            col("t").cast("double")).as("load_factor"),
          (col("mx").cast("double") * col("k").cast("double") /
            col("t").cast("double")).as("max_load_factor"),
          (((col("n") * col("k") - col("t")) *
            (col("n") * col("k") - col("t"))).cast("double") /
            (col("t") * col("k")).cast("double")).as("chi2_part"))
        .orderBy("bucket")
    },
    Some("""WITH b AS (SELECT
          CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
            AS BIGINT) % 32 AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY bucket),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
          CAST(COUNT(*) AS BIGINT) AS k, MAX(n) AS mx FROM b)
      SELECT bucket, n,
        CAST(n AS DOUBLE) * CAST(k AS DOUBLE) / CAST(t AS DOUBLE)
          AS load_factor,
        CAST(mx AS DOUBLE) * CAST(k AS DOUBLE) / CAST(t AS DOUBLE)
          AS max_load_factor,
        CAST((n * k - t) * (n * k - t) AS DOUBLE) / CAST(t * k AS DOUBLE)
          AS chi2_part
      FROM b, tot
      ORDER BY bucket"""),
    covers = Seq("A-bucket-skew"))

  // ------------------------------------------------- ingestion drift
  // doc_id as ingestion-order proxy: mean length and language count
  // per ingestion decile (ntile over the unique doc_id order) — did
  // the corpus change character as it was collected? The last/first
  // ratio summarizes the drift in one number per row.
  private val q363 = QueryDef(
    "q363_ingestion_drift",
    (s, dir) => {
      // ingestion deciles over ALL DOCUMENTS — row-scale; two-phase
      // GlobalOrder form (round-12 window audit, bit-identical by
      // GlobalOrderSpec)
      val dec = graft.operators.GlobalOrder.ntile(
          Tables.load(s, dir, "documents"), 10, col("doc_id"), leadDesc = false,
          Seq(col("doc_id")), "decile")
        .withColumn("decile", col("decile").cast(LongType))
      val g = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sc"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("mean_chars",
          col("sc").cast("double") / col("n_docs").cast("double"))
      val base = g.filter(col("decile") === 1)
        .select(col("sc").as("sc1"), col("n_docs").as("nd1"))
      g.crossJoin(broadcast(base))
        .select(col("decile"), col("n_docs"), col("n_langs"),
          col("mean_chars"),
          ((col("sc").cast("double") / col("n_docs").cast("double")) /
            (col("sc1").cast("double") / col("nd1").cast("double")))
            .as("vs_first_decile"))
        .orderBy("decile")
    },
    Some("""WITH d AS (SELECT n_chars, lang,
          CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS decile
        FROM documents),
      g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sc,
          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM d GROUP BY decile),
      base AS (SELECT sc AS sc1, n_docs AS nd1 FROM g WHERE decile = 1)
      SELECT decile, n_docs, n_langs,
        CAST(sc AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
        (CAST(sc AS DOUBLE) / CAST(n_docs AS DOUBLE))
          / (CAST(sc1 AS DOUBLE) / CAST(nd1 AS DOUBLE)) AS vs_first_decile
      FROM g, base
      ORDER BY decile"""),
    covers = Seq("A-ingestion-drift"))

  // ------------------------------------------------- early value share
  // How front-loaded is user value: of each user's lifetime event
  // value, the share earned within 7 days of their first event.
  // Reports the POOLED share (ratio of exact DECIMAL sums) and the
  // median per-user share (an order statistic over the per-user
  // rationals) — mean-of-ratios vs ratio-of-sums, both deliberately.
  private val q378 = QueryDef(
    "q378_early_value_share",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"), col("ts"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      val first = e.groupBy("user_id").agg(min(col("ts")).as("t0"))
      val per = e.join(first, Seq("user_id"))
        .withColumn("early",
          col("ts") < col("t0") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id")
        .agg(sum(col("v")).as("total"),
          sum(when(col("early"), col("v"))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).as("early_v"))
        .filter(col("total") > 0)
        .withColumn("share",
          col("early_v").cast("double") / col("total").cast("double"))
      per.agg(count(lit(1)).as("n_users"),
        (sum(col("early_v")).cast("double") /
          sum(col("total")).cast("double")).as("pooled_share"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY share)")
          .as("median_user_share"))
    },
    Some("""WITH e AS (SELECT user_id, ts,
          CAST(value AS DECIMAL(18,2)) AS v FROM events),
      f AS (SELECT user_id, MIN(ts) AS t0 FROM e GROUP BY user_id),
      per AS (SELECT e.user_id, SUM(v) AS total,
          SUM(CASE WHEN ts < t0 + INTERVAL 7 DAY THEN v
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS early_v
        FROM e JOIN f USING (user_id)
        GROUP BY e.user_id),
      sh AS (SELECT user_id, total, early_v,
          CAST(early_v AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM per WHERE total > 0)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(early_v) AS DOUBLE) / CAST(SUM(total) AS DOUBLE)
          AS pooled_share,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY share)
          AS median_user_share
      FROM sh"""),
    covers = Seq("A-early-value"))

  // ------------------------------------------------- single-source risk
  // Supply-chain fragility: parts by how many distinct suppliers ship
  // them, with the revenue riding on single-sourced parts — the
  // at-risk revenue share procurement watches. Part-level distincts
  // collapse the fact once; revenue stays exact DECIMAL.
  private val q384 = QueryDef(
    "q384_single_source_risk",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      // pre-aggregate per (part, supplier) so the distinct-supplier
      // count is a plain count over the shrunk frame — the direct
      // countDistinct+sum Expand duplicates every fact row and loses
      // one decade up (same-JVM A/B, sf1: 2.30 s vs 1.87 s; sf0.1 a
      // wash) — the shape that survives the scale-up ships
      val per = Tables.load(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(rev).as("r_ps"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("r_ps")).cast(DecimalType(38, 4)).as("r"))
      val tot = per.agg(sum(col("r")).cast(DecimalType(38, 4)).as("t"),
        count(lit(1)).as("np"))
      per.groupBy("n_suppliers")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("r")).cast(DecimalType(38, 4)).as("band_rev"))
        .crossJoin(broadcast(tot))
        .select(col("n_suppliers"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("part_share"),
          (col("band_rev").cast("double") / col("t").cast("double"))
            .as("revenue_share"))
        .orderBy("n_suppliers")
    },
    Some("""WITH per AS (SELECT l_partkey,
          CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS r
        FROM lineitem GROUP BY l_partkey),
      tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,4)) AS t,
          CAST(COUNT(*) AS BIGINT) AS np FROM per)
      SELECT n_suppliers, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(np) AS DOUBLE) AS part_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE) / CAST(MIN(t) AS DOUBLE)
          AS revenue_share
      FROM per, tot GROUP BY n_suppliers
      ORDER BY n_suppliers"""),
    covers = Seq("A-single-source"))

  // ------------------------------------------------- sequence position
  // Does value grow with engagement? Mean event value by the user's
  // within-sequence position band (events 1–10, 11–20, …): one
  // partitioned row_number, exact DECIMAL sums per band, one division
  // — the engagement-value curve.
  private val q385 = QueryDef(
    "q385_seq_position_value",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = Tables.load(s, dir, "events")
        .withColumn("pos", row_number().over(w).cast(LongType))
        .withColumn("band", expr("(pos - 1) DIV 10"))
        .select(col("band"), col("value").cast(DecimalType(18, 2)).as("v"))
      e.groupBy("band")
        .agg(count(lit(1)).as("n_events"),
          sum(col("v")).cast(DecimalType(38, 2)).as("sv"))
        .select(col("band"), col("n_events"),
          (col("sv").cast("double") / col("n_events").cast("double"))
            .as("mean_value"))
        .orderBy("band")
    },
    Some("""WITH e AS (SELECT
          (CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS BIGINT) - 1) // 10 AS band,
          CAST(value AS DECIMAL(18,2)) AS v
        FROM events)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS mean_value
      FROM e GROUP BY band
      ORDER BY band"""),
    covers = Seq("A-seq-position"))

  // ------------------------------------------------- retention triangle
  // The classic weekly retention triangle: users cohorted by first-
  // event week, each (cohort, week-index ≤ 7) cell counting distinct
  // returners and the retention rate against the cohort size. Two
  // collapses (first-event, cell distinct) — no window at all.
  private val q386 = QueryDef(
    "q386_retention_triangle",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"),
        date_trunc("week", to_date(col("ts"))).cast("date").as("wk"))
      val first = e.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      val cells = e.join(first, Seq("user_id"))
        .withColumn("wk_idx",
          expr("datediff(wk, cohort) DIV 7"))
        .filter(col("wk_idx") <= 7)
        .groupBy("cohort", "wk_idx")
        .agg(countDistinct(col("user_id")).as("users"))
      val size = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      cells.join(broadcast(size), Seq("cohort"))
        .select(col("cohort"), col("wk_idx"), col("users"),
          col("cohort_size"),
          (col("users").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
        .orderBy("cohort", "wk_idx")
    },
    Some("""WITH e AS (SELECT user_id,
          CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
        FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id),
      cells AS (SELECT cohort, CAST(wk - cohort AS BIGINT) // 7 AS wk_idx,
          CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users
        FROM e JOIN f USING (user_id)
        WHERE CAST(wk - cohort AS BIGINT) // 7 <= 7
        GROUP BY cohort, wk_idx),
      sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
             FROM f GROUP BY cohort)
      SELECT cohort, wk_idx, users, cohort_size,
        CAST(users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      FROM cells JOIN sz USING (cohort)
      ORDER BY cohort, wk_idx"""),
    covers = Seq("A-retention-triangle"))

  // ------------------------------------------------- brand seasonality
  // Brand revenue-share swing across quarters: each brand's min and
  // max quarterly share of total revenue and the swing between them —
  // which brands are seasonal. Shares are rational doubles, but only
  // order-free summaries (min/max) aggregate them.
  private val q390 = QueryDef(
    "q390_brand_seasonal_swing",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      val q = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          quarter(to_date(col("l_shipdate"))).cast(LongType).as("qtr"),
          rev.as("r"))
      val cell = q.groupBy("brand", "qtr")
        .agg(sum(col("r")).cast(DecimalType(38, 4)).as("br"))
      val qtot = q.groupBy("qtr")
        .agg(sum(col("r")).cast(DecimalType(38, 4)).as("qt"))
      val shares = cell.join(broadcast(qtot), Seq("qtr"))
        .withColumn("share",
          col("br").cast("double") / col("qt").cast("double"))
      shares.groupBy("brand")
        .agg(count(lit(1)).as("n_quarters"),
          min(col("share")).as("min_share"),
          max(col("share")).as("max_share"))
        .withColumn("swing", col("max_share") - col("min_share"))
        .orderBy("brand")
    },
    Some("""WITH li AS (SELECT p_brand AS brand,
          CAST(EXTRACT(quarter FROM CAST(l_shipdate AS DATE)) AS BIGINT)
            AS qtr,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      cell AS (SELECT brand, qtr, CAST(SUM(r) AS DECIMAL(38,4)) AS br
               FROM li GROUP BY brand, qtr),
      qtot AS (SELECT qtr, CAST(SUM(r) AS DECIMAL(38,4)) AS qt
               FROM li GROUP BY qtr),
      sh AS (SELECT brand, cell.qtr,
          CAST(br AS DOUBLE) / CAST(qt AS DOUBLE) AS share
        FROM cell JOIN qtot USING (qtr))
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_quarters,
        MIN(share) AS min_share, MAX(share) AS max_share,
        MAX(share) - MIN(share) AS swing
      FROM sh GROUP BY brand
      ORDER BY brand"""),
    covers = Seq("A-brand-seasonality"))

  // ------------------------------------------------- activity histogram
  // The shape of user activity: users bucketed by event count
  // (DIV 25), with each bucket's user count and share of total events
  // — the participation-inequality chart (a few users usually carry
  // most of the log).
  private val q393 = QueryDef(
    "q393_activity_histogram",
    (s, dir) => {
      val per = Tables.load(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", expr("n DIV 25"))
      val tot = per.agg(sum(col("n")).as("te"), count(lit(1)).as("tu"))
      per.groupBy("bucket")
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("events"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_users"),
          (col("n_users").cast("double") / col("tu").cast("double"))
            .as("user_share"),
          (col("events").cast("double") / col("te").cast("double"))
            .as("event_share"))
        .orderBy("bucket")
    },
    Some("""WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY user_id),
      b AS (SELECT n // 25 AS bucket, n FROM per),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS te,
          CAST(COUNT(*) AS BIGINT) AS tu FROM per)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(tu) AS DOUBLE) AS user_share,
        CAST(SUM(n) AS DOUBLE) / CAST(MIN(te) AS DOUBLE) AS event_share
      FROM b, tot GROUP BY bucket
      ORDER BY bucket"""),
    covers = Seq("A-activity-shape"))

  // ------------------------------------------------- customer trajectory
  // Is each customer's spend trending up or down? First vs last
  // order value over the (date, orderkey) total order — the
  // trajectory census (up / down / flat) per market segment, exact
  // DECIMAL comparisons deciding every class.
  private val q396 = QueryDef(
    "q396_customer_trajectory",
    (s, dir) => {
      val v = col("o_totalprice").cast(DecimalType(18, 2))
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), v.as("v"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("o_custkey")))
      val firstLast = o.filter(col("rn") === 1 || col("rn") === col("cnt"))
        .groupBy("o_custkey")
        .agg(max(col("cnt")).as("n_orders"),
          min(when(col("rn") === 1, col("v"))).as("first_v"),
          min(when(col("rn") === col("cnt"), col("v"))).as("last_v"))
        .filter(col("n_orders") >= 2)
        .withColumn("trajectory",
          when(col("last_v") > col("first_v"), "up")
            .when(col("last_v") < col("first_v"), "down")
            .otherwise("flat"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      firstLast.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("segment", "trajectory")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("segment", "trajectory")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders),
      r AS (SELECT o_custkey, v,
          row_number() OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
            AS rn,
          COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
        FROM o),
      fl AS (SELECT o_custkey, MAX(cnt) AS n_orders,
          MIN(CASE WHEN rn = 1 THEN v END) AS first_v,
          MIN(CASE WHEN rn = cnt THEN v END) AS last_v
        FROM r WHERE rn = 1 OR rn = cnt
        GROUP BY o_custkey),
      cls AS (SELECT o_custkey,
          CASE WHEN last_v > first_v THEN 'up'
               WHEN last_v < first_v THEN 'down'
               ELSE 'flat' END AS trajectory
        FROM fl WHERE n_orders >= 2)
      SELECT c_mktsegment AS segment, trajectory,
        CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM cls JOIN customer ON o_custkey = c_custkey
      GROUP BY segment, trajectory
      ORDER BY segment, trajectory"""),
    covers = Seq("A-trajectory"))

  // ------------------------------------------------- quantile grid
  // Two-dimensional quantile control grid: P90 order value in exact
  // cents for every (segment × priority) cell — the slice-and-dice
  // form of q375's time series, one grouped order statistic.
  private val q397 = QueryDef(
    "q397_quantile_grid",
    (s, dir) => {
      val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"), cents.as("c"))
        .groupBy("segment", "priority")
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p50_cents"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p90_cents"))
        .orderBy("segment", "priority")
    },
    Some("""SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p50_cents,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p90_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY segment, priority
      ORDER BY segment, priority"""),
    covers = Seq("A-quantile-grid"))

  // ------------------------------------------------- price ladder
  // Psychological-pricing audit per brand: how much of the catalog
  // sits on the 5 most common price points (the "price ladder"), and
  // what the modal price is. Counts and row_number only — exact, and
  // bounded by the brand × price-point cardinality.
  private val q407 = QueryDef(
    "q407_price_ladder",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_brand").as("brand"),
          (col("p_retailprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("c"))
      val pts = p.groupBy("brand", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("brand").orderBy(desc("cnt"), asc("c"))
      val ranked = pts.withColumn("rk", row_number().over(w))
      ranked.groupBy("brand")
        .agg(sum(col("cnt")).as("n_parts"),
          count(lit(1)).as("n_price_points"),
          sum(when(col("rk") <= 5, col("cnt")).otherwise(0L))
            .as("top5_mass"),
          max(when(col("rk") === 1, col("c"))).as("modal_cents"))
        .withColumn("top5_share",
          col("top5_mass").cast("double") / col("n_parts").cast("double"))
        .orderBy("brand")
    },
    Some("""WITH p AS (SELECT p_brand AS brand,
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM part),
      pts AS (SELECT brand, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM p GROUP BY brand, c),
      r AS (SELECT *, row_number() OVER (PARTITION BY brand
          ORDER BY cnt DESC, c) AS rk FROM pts)
      SELECT brand, CAST(SUM(cnt) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS BIGINT) AS n_price_points,
        CAST(SUM(CASE WHEN rk <= 5 THEN cnt ELSE 0 END) AS BIGINT)
          AS top5_mass,
        MAX(CASE WHEN rk = 1 THEN c END) AS modal_cents,
        CAST(SUM(CASE WHEN rk <= 5 THEN cnt ELSE 0 END) AS DOUBLE)
          / CAST(SUM(cnt) AS DOUBLE) AS top5_share
      FROM r GROUP BY brand ORDER BY brand"""),
    covers = Seq("A-price-ladder"))

  // ------------------------------------------------- volume discount curve
  // Does buying more cost less per unit? Mean unit price per quantity
  // band as the ratio of exact sums Σ(extendedprice)/Σ(quantity) —
  // never a per-row division — plus each band's share of total
  // quantity. The empirical volume-discount curve.
  private val q413 = QueryDef(
    "q413_volume_discount_curve",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select((((col("l_quantity").cast(LongType) - 1L) / 10L)
          .cast(LongType) * 10L + 1L).as("qty_band_lo"),
          col("l_quantity").cast(LongType).as("q"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("pc"))
      val tot = li.agg(sum(col("q")).as("tq"))
      li.groupBy("qty_band_lo")
        .agg(count(lit(1)).as("n_lines"), sum(col("q")).as("sum_qty"),
          sum(col("pc")).as("sum_price_cents"))
        .crossJoin(broadcast(tot))
        .select(col("qty_band_lo"), col("n_lines"), col("sum_qty"),
          (col("sum_price_cents").cast("double")
            / col("sum_qty").cast("double")).as("mean_unit_cents"),
          (col("sum_qty").cast("double") / col("tq").cast("double"))
            .as("qty_share"))
        .orderBy("qty_band_lo")
    },
    Some("""WITH li AS (SELECT
          ((CAST(l_quantity AS BIGINT) - 1) // 10) * 10 + 1 AS qty_band_lo,
          CAST(l_quantity AS BIGINT) AS q,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
        FROM lineitem),
      tot AS (SELECT CAST(SUM(q) AS BIGINT) AS tq FROM li)
      SELECT qty_band_lo, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(q) AS BIGINT) AS sum_qty,
        CAST(SUM(pc) AS DOUBLE) / CAST(SUM(q) AS DOUBLE) AS mean_unit_cents,
        CAST(SUM(q) AS DOUBLE) / CAST(MIN(tq) AS DOUBLE) AS qty_share
      FROM li, tot GROUP BY qty_band_lo ORDER BY qty_band_lo"""),
    covers = Seq("A-volume-discount"))

  // ------------------------------------------------- charm pricing
  // Price-ending census over the catalog: .99 / .00 / .50 endings vs
  // everything else, with each ending's catalog share and exact mean
  // price — the "psychological pricing" audit that complements
  // q407's per-brand ladder. Pure modular arithmetic.
  private val q418 = QueryDef(
    "q418_charm_pricing",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select((col("p_retailprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("c"))
        .withColumn("ending",
          when(col("c") % 100L === 99L, "charm_99")
            .when(col("c") % 100L === 0L, "round_00")
            .when(col("c") % 100L === 50L, "half_50")
            .otherwise("other"))
      val tot = p.agg(count(lit(1)).as("np"))
      p.groupBy("ending")
        .agg(count(lit(1)).as("n_parts"), sum(col("c")).as("sc"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
        .crossJoin(broadcast(tot))
        .select(col("ending"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("catalog_share"),
          (col("sc").cast("double") / col("n_parts").cast("double"))
            .as("mean_cents"),
          col("min_cents"), col("max_cents"))
        .orderBy("ending")
    },
    Some("""WITH p AS (SELECT
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM part),
      e AS (SELECT c, CASE WHEN c % 100 = 99 THEN 'charm_99'
               WHEN c % 100 = 0 THEN 'round_00'
               WHEN c % 100 = 50 THEN 'half_50'
               ELSE 'other' END AS ending
        FROM p),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM e)
      SELECT ending, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(np) AS DOUBLE) AS catalog_share,
        CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_cents,
        MIN(c) AS min_cents, MAX(c) AS max_cents
      FROM e, tot GROUP BY ending ORDER BY ending"""),
    covers = Seq("A-charm-pricing"))

  // ------------------------------------------------- top-decile persistence
  // Are this year's best customers last year's? Per year, the top
  // decile of customers by spend (exact percentile_disc cutoff,
  // inclusive); adjacent years joined on customer, overlap reported
  // as |A∩B| with containment in BOTH directions. The "elite churn"
  // statistic behind loyalty-program design.
  private val q419 = QueryDef(
    "q419_top_decile_persistence",
    (s, dir) => {
      val cy = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
        .agg(sum(cents).as("spend"))
        // materialized once: feeds the percentile broadcast build (a
        // separate job) and the top-decile filter
        .localCheckpoint()
      // built-in percentile_disc stays: per-year spend values are
      // per-customer aggregates (many small-ish groups over an
      // already-shrunk frame) — the ExactQuantiles rewrite measured
      // SLOWER here at sf0.1 and sf1 both (same-JVM A/B)
      val cut = cy.groupBy("yr")
        .agg(expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY spend)")
          .cast(LongType).as("p90"))
      val top = cy.join(broadcast(cut), Seq("yr"))
        .filter(col("spend") >= col("p90"))
        .select(col("yr"), col("o_custkey"))
        // materialized once (O(customers/10) rows): read by sizes
        // (twice, via the year-shift self-join) and both sides of the
        // adjacency intersection
        .localCheckpoint()
      val a = top.select(col("o_custkey").as("cust"), col("yr").as("yr_a"))
      val b = top.select(col("o_custkey").as("cust"),
        (col("yr") - 1L).as("yr_b"))
      val sizes = top.groupBy("yr").agg(count(lit(1)).as("n_top"))
      val inter = a.join(b, Seq("cust"))
        .filter(col("yr_a") === col("yr_b"))
        .groupBy(col("yr_a").as("yr")).agg(count(lit(1)).as("n_overlap"))
      sizes.as("s1")
        .join(sizes.as("s2").select((col("yr") - 1L).as("yr"),
          col("n_top").as("n_top_next")), Seq("yr"))
        .join(inter, Seq("yr"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
        .select(col("yr"), col("n_top"), col("n_top_next"), col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_top").cast("double"))
            .as("retention_rate"),
          (col("n_overlap").cast("double") / col("n_top_next").cast("double"))
            .as("sourced_rate"))
        .orderBy("yr")
    },
    Some("""WITH cy AS (SELECT o_custkey,
          CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS spend
        FROM orders GROUP BY 1, 2),
      cut AS (SELECT yr,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY spend)
            AS BIGINT) AS p90
        FROM cy GROUP BY yr),
      top AS (SELECT cy.yr, o_custkey FROM cy JOIN cut ON cy.yr = cut.yr
        WHERE spend >= p90),
      sizes AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_top
        FROM top GROUP BY yr),
      inter AS (SELECT a.yr, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM top a JOIN top b
          ON a.yr = b.yr - 1 AND a.o_custkey = b.o_custkey
        GROUP BY a.yr)
      SELECT s1.yr, s1.n_top, s2.n_top AS n_top_next,
        COALESCE(n_overlap, 0) AS n_overlap,
        CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(s1.n_top AS DOUBLE)
          AS retention_rate,
        CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(s2.n_top AS DOUBLE)
          AS sourced_rate
      FROM sizes s1 JOIN sizes s2 ON s2.yr = s1.yr + 1
      LEFT JOIN inter ON inter.yr = s1.yr
      ORDER BY s1.yr"""),
    covers = Seq("A-elite-persistence"))

  // ------------------------------------------------- LTV predictiveness
  // Does the FIRST order's size predict everything after it? Pearson
  // between first-order cents and the rest-of-lifetime total per
  // segment — q378 asked how much value lands early; this asks
  // whether the first purchase is a usable signal. Exact moments,
  // one window.
  private val q420 = QueryDef(
    "q420_ltv_predictiveness",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), cents.as("c"))
        .withColumn("rn", row_number().over(w))
      val perCust = o.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          max(when(col("rn") === 1, col("c"))).as("first_c"),
          sum(when(col("rn") > 1, col("c")).otherwise(0L)).as("rest_c"))
        .filter(col("n_orders") >= 2)
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val g = perCust
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("first_c")).as("sx"), sum(col("rest_c")).as("sy"),
          sum(dec38(col("first_c")) * dec38(col("rest_c"))).as("sxy"),
          sum(dec38(col("first_c")) * dec38(col("first_c"))).as("sxx"),
          sum(dec38(col("rest_c")) * dec38(col("rest_c"))).as("syy"))
      val num = dec38(col("n_cust")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))
      val den1 = dec38(col("n_cust")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
      val den2 = dec38(col("n_cust")) * col("syy") - dec38(col("sy")) * dec38(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("segment"), col("n_cust"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("first_rest_corr"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders),
      r AS (SELECT o_custkey, c,
          row_number() OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
            AS rn
        FROM o),
      pc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
          MAX(CASE WHEN rn = 1 THEN c END) AS first_c,
          CAST(SUM(CASE WHEN rn > 1 THEN c ELSE 0 END) AS BIGINT) AS rest_c
        FROM r GROUP BY o_custkey HAVING COUNT(*) >= 2),
      g AS (SELECT c_mktsegment AS segment,
          CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(first_c) AS HUGEINT) AS sx,
          CAST(SUM(rest_c) AS HUGEINT) AS sy,
          CAST(SUM(CAST(first_c AS HUGEINT) * rest_c) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(first_c AS HUGEINT) * first_c) AS HUGEINT) AS sxx,
          CAST(SUM(CAST(rest_c AS HUGEINT) * rest_c) AS HUGEINT) AS syy
        FROM pc JOIN customer ON o_custkey = c_custkey
        GROUP BY segment),
      f AS (SELECT segment, n_cust,
          CAST(n_cust AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n_cust AS HUGEINT) * sxx - sx * sx AS den1,
          CAST(n_cust AS HUGEINT) * syy - sy * sy AS den2
        FROM g)
      SELECT segment, n_cust,
        CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE))
          * sqrt(CAST(den2 AS DOUBLE))) AS first_rest_corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY segment"""),
    covers = Seq("A-ltv-predictiveness"))

  // ------------------------------------------------- engagement breadth
  // Participation BREADTH census: users by how many DISTINCT event
  // types they touch — q393 measured volume, this measures variety
  // (the "single-feature user" share that predicts churn). Each
  // breadth level also reports its share of total event volume.
  private val q421 = QueryDef(
    "q421_engagement_breadth",
    (s, dir) => {
      val perUser = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(countDistinct(col("event_type")).as("breadth"),
          count(lit(1)).as("n_events"))
      val tot = perUser.agg(count(lit(1)).as("nu"),
        sum(col("n_events")).as("ne"))
      perUser.groupBy("breadth")
        .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("events"))
        .crossJoin(broadcast(tot))
        .select(col("breadth"), col("n_users"),
          (col("n_users").cast("double") / col("nu").cast("double"))
            .as("user_share"),
          (col("events").cast("double") / col("ne").cast("double"))
            .as("event_share"))
        .orderBy("breadth")
    },
    Some("""WITH pu AS (SELECT user_id,
          CAST(COUNT(DISTINCT event_type) AS BIGINT) AS breadth,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
          CAST(SUM(n_events) AS BIGINT) AS ne FROM pu)
      SELECT breadth, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(nu) AS DOUBLE) AS user_share,
        CAST(SUM(n_events) AS DOUBLE) / CAST(MIN(ne) AS DOUBLE)
          AS event_share
      FROM pu, tot GROUP BY breadth ORDER BY breadth"""),
    covers = Seq("A-engagement-breadth"))

  // ------------------------------------------------- peak alignment
  // Do all market segments peak in the same calendar month? Per
  // segment: the peak revenue month (exact DECIMAL argmax, ties →
  // earliest month) and its share of the segment's year — if every
  // segment peaks together, capacity planning is one problem; if
  // they stagger, it's five.
  private val q422 = QueryDef(
    "q422_peak_alignment",
    (s, dir) => {
      val sm = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          month(to_date(col("o_orderdate"))).cast(LongType).as("m"))
        .agg(sum(cents).as("rev"))
      val w = Window.partitionBy("segment")
      val ranked = sm
        .withColumn("seg_rev", sum(col("rev")).over(w))
        .withColumn("rk", row_number().over(
          Window.partitionBy("segment").orderBy(desc("rev"), asc("m"))))
      ranked.filter(col("rk") === 1)
        .select(col("segment"), col("m").as("peak_month"),
          col("rev").as("peak_rev_cents"),
          (col("rev").cast("double") / col("seg_rev").cast("double"))
            .as("peak_share"))
        .orderBy("segment")
    },
    Some("""WITH sm AS (SELECT c_mktsegment AS segment,
          CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      r AS (SELECT segment, m, rev,
          CAST(SUM(rev) OVER (PARTITION BY segment) AS BIGINT) AS seg_rev,
          row_number() OVER (PARTITION BY segment
            ORDER BY rev DESC, m) AS rk
        FROM sm)
      SELECT segment, m AS peak_month, rev AS peak_rev_cents,
        CAST(rev AS DOUBLE) / CAST(seg_rev AS DOUBLE) AS peak_share
      FROM r WHERE rk = 1 ORDER BY segment"""),
    covers = Seq("A-peak-alignment"))

  // ------------------------------------------------- discount spend audit
  // Where does the discount budget actually go? Per discount band:
  // gross revenue, discount dollars given (exact at scale 4 —
  // price × rate never rounds), net, and the band's share of the
  // total discount budget. The money-flow companion to q413's unit
  // price curve.
  private val q423 = QueryDef(
    "q423_discount_spend",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select(
        (col("l_discount").cast(DecimalType(4, 2)) * 100)
          .cast(LongType).as("disc_pct"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("gross_c"),
        (col("l_extendedprice").cast(DecimalType(18, 2))
          * col("l_discount").cast(DecimalType(4, 2)) * 10000)
          .cast(LongType).as("disc_x10000"))
      val tot = li.agg(sum(col("disc_x10000")).as("td"))
      li.groupBy("disc_pct")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("gross_c")).as("gross_cents"),
          sum(col("disc_x10000")).as("disc_x10000"))
        .crossJoin(broadcast(tot))
        .select(col("disc_pct"), col("n_lines"), col("gross_cents"),
          col("disc_x10000"),
          (col("disc_x10000").cast("double") / col("td").cast("double"))
            .as("budget_share"),
          (col("disc_x10000").cast("double")
            / (col("gross_cents") * 100L).cast("double")).as("realized_rate"))
        .orderBy("disc_pct")
    },
    Some("""WITH li AS (SELECT
          CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc_pct,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS gross_c,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)
            AS disc_x10000
        FROM lineitem),
      tot AS (SELECT CAST(SUM(disc_x10000) AS BIGINT) AS td FROM li)
      SELECT disc_pct, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(gross_c) AS BIGINT) AS gross_cents,
        CAST(SUM(disc_x10000) AS BIGINT) AS disc_x10000,
        CAST(SUM(disc_x10000) AS DOUBLE) / CAST(MIN(td) AS DOUBLE)
          AS budget_share,
        CAST(SUM(disc_x10000) AS DOUBLE)
          / CAST(SUM(gross_c) * 100 AS DOUBLE) AS realized_rate
      FROM li, tot GROUP BY disc_pct ORDER BY disc_pct"""),
    covers = Seq("A-discount-spend"))

  // ------------------------------------------------- band migration
  // Customer value-band Markov matrix: each customer's spend quintile
  // this year vs next year (unique (spend, custkey) ntile order), the
  // full 5×5 migration census behind "do mid-tier customers move up
  // or churn". q396 classified first-vs-last direction; this is the
  // complete transition structure.
  private val q429 = QueryDef(
    "q429_value_band_migration",
    (s, dir) => {
      val cy = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType)).as("spend"))
      val w = Window.partitionBy("yr").orderBy("spend", "o_custkey")
      val banded = cy.withColumn("band", ntile(5).over(w).cast(LongType))
      val nxt = banded.select(col("o_custkey"),
        (col("yr") - 1L).as("yr"), col("band").as("band_next"))
      banded.join(nxt, Seq("o_custkey", "yr"))
        .groupBy("band", "band_next")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("band", "band_next")
    },
    Some("""WITH cy AS (SELECT o_custkey,
          CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS spend
        FROM orders GROUP BY 1, 2),
      banded AS (SELECT o_custkey, yr,
          CAST(ntile(5) OVER (PARTITION BY yr ORDER BY spend, o_custkey)
            AS BIGINT) AS band
        FROM cy)
      SELECT a.band, b.band AS band_next,
        CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM banded a JOIN banded b
        ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A-band-migration"))

  // ------------------------------------------------- basket variety
  // Joint census of basket SIZE vs basket VARIETY: order line count ×
  // distinct brand count, with mean order value per cell — separates
  // "7 lines of one brand" from "7 brands" (q345 only measured
  // depth). Exact DECIMAL value sums; cells bounded by 7×7.
  private val q431 = QueryDef(
    "q431_basket_variety",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
      // pre-aggregate per (order, brand): the distinct-brand count
      // becomes a plain count and the Expand that duplicated every
      // fact row disappears — measured one decade up (same-JVM A/B,
      // sf1: 3.22 s vs 1.50 s; sf0.1 already a small win)
      val perOrder = li.groupBy("l_orderkey", "p_brand")
        .agg(count(lit(1)).as("nl"),
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType)).as("v"))
        .groupBy("l_orderkey")
        .agg(sum(col("nl")).as("n_lines"),
          count(lit(1)).as("n_brands"),
          sum(col("v")).as("val_c"))
      perOrder.groupBy("n_lines", "n_brands")
        .agg(count(lit(1)).as("n_orders"), sum(col("val_c")).as("sv"))
        .select(col("n_lines"), col("n_brands"), col("n_orders"),
          (col("sv").cast("double") / col("n_orders").cast("double"))
            .as("mean_order_cents"))
        .orderBy("n_lines", "n_brands")
    },
    Some("""WITH po AS (SELECT l_orderkey,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS val_c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_orderkey)
      SELECT n_lines, n_brands, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(val_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_order_cents
      FROM po GROUP BY 1, 2 ORDER BY n_lines, n_brands"""),
    covers = Seq("A-basket-variety"))

  // ------------------------------------------------- top-k turnover
  // Month-over-month churn of the revenue top-20 parts: Jaccard of
  // adjacent months' top sets (net revenue exact at scale 4, ties →
  // partkey). A stable catalog holds J near 1; merchandising shocks
  // show as dips. Top sets are 20 rows per month — the adjacency
  // join is trivially broadcastable at any scale.
  private val q444 = QueryDef(
    "q444_topk_turnover",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          (year(to_date(col("l_shipdate"))) * 12 +
            month(to_date(col("l_shipdate")))).cast(LongType).as("mk"),
          ((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))) * 10000)
            .cast(LongType).as("rev4"))
      val pm = li.groupBy("mk", "l_partkey").agg(sum("rev4").as("rev"))
      // the engine's TopKPerKey operator instead of a row_number window:
      // bounded pre-shuffle heaps cap map output at k rows per (month,
      // partition) where the window would sort every (month, part) row
      // after the exchange — rank semantics identical (total order via
      // the partkey tiebreak)
      val top = graft.plans.TopKPerKey.perKey(
          pm, Seq("mk"), Seq(col("rev").desc, col("l_partkey")), 20)
        .select(col("mk"), col("l_partkey"))
      val sizes = top.groupBy("mk").agg(count(lit(1)).as("sz"))
      val nxt = top.select((col("mk") - 1L).as("mk"),
        col("l_partkey"))
      val common = top.join(nxt, Seq("mk", "l_partkey"))
        .groupBy("mk").agg(count(lit(1)).as("n_common"))
      sizes.as("s1")
        .join(sizes.as("s2").select((col("mk") - 1L).as("mk"),
          col("sz").as("sz_next")), Seq("mk"))
        .join(common, Seq("mk"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .select(col("mk"), col("sz"), col("sz_next"), col("n_common"),
          (col("n_common").cast("double") /
            (col("sz") + col("sz_next") - col("n_common")).cast("double"))
            .as("jaccard"))
        .orderBy("mk")
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(year(CAST(l_shipdate AS DATE)) * 12 +
            month(CAST(l_shipdate AS DATE)) AS BIGINT) AS mk,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT) AS rev4
        FROM lineitem),
      pm AS (SELECT mk, l_partkey, CAST(SUM(rev4) AS BIGINT) AS rev
        FROM li GROUP BY 1, 2),
      top AS (SELECT mk, l_partkey FROM (SELECT mk, l_partkey,
          row_number() OVER (PARTITION BY mk
            ORDER BY rev DESC, l_partkey) AS rn FROM pm)
        WHERE rn <= 20),
      sizes AS (SELECT mk, CAST(COUNT(*) AS BIGINT) AS sz
        FROM top GROUP BY mk),
      common AS (SELECT a.mk, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM top a JOIN top b
          ON b.l_partkey = a.l_partkey AND b.mk = a.mk + 1
        GROUP BY a.mk)
      SELECT s1.mk, s1.sz, s2.sz AS sz_next,
        COALESCE(c.n_common, 0) AS n_common,
        CAST(COALESCE(c.n_common, 0) AS DOUBLE) /
          CAST(s1.sz + s2.sz - COALESCE(c.n_common, 0) AS DOUBLE)
          AS jaccard
      FROM sizes s1 JOIN sizes s2 ON s2.mk = s1.mk + 1
      LEFT JOIN common c ON c.mk = s1.mk
      ORDER BY s1.mk"""),
    covers = Seq("REL-topk-turnover"))

  val all: Seq[QueryDef] =
    Seq(q111, q114, q118, q130, q132, q133, q144, q145, q146, q150, q159,
      q164, q167, q190, q193, q252, q255, q259, q261, q276, q278, q282, q285,
      q295, q296, q299, q301, q303, q315, q316, q319, q321, q322, q324, q325,
      q326, q327, q328, q333, q336, q340, q341, q342, q343, q345, q349, q356,
      q357, q358, q360, q361, q362, q363, q378, q384, q385, q386, q390, q393,
      q396, q397, q407, q413, q418, q419, q420, q421, q422, q423, q429, q431,
      q444)
}
