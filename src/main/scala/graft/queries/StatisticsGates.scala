package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

import graft.Tables

import QueryDef.{cents, d4ToDouble, dec, dec38}
import AnalyticsGates.rev

/** Statistics and quantiles: hypothesis tests, effect sizes,
  * correlation and regression from exact sums, rank statistics,
  * inequality and tail measures, exact quantiles, and causal
  * estimators (difference-in-differences, stratified ATE, RDD, event
  * study).
  *
  * Determinism rules: see the [[QueryDef]] companion.
  */
object StatisticsGates {

  private def pow2(c: Column): Column = c * c

  private def daily(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("y"))
      .withColumn("yr", year(col("d")).cast("long"))

  private def segJoin(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), Seq("o_custkey"))

  /** Weekly (wk, qty, disc4, n_orders) totals — exact integers. */
  private def weeklyLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(
        floor(datediff(to_date(col("l_shipdate")),
          lit("1995-01-01").cast(DateType)) / lit(7.0))
          .cast(LongType).as("wk"),
        col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
          .as("qty"),
        ((col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(4, 2))) * 10000)
          .cast(LongType).as("disc4"),
        col("l_orderkey"))
      .groupBy("wk")
      .agg(sum("qty").as("q"), sum("disc4").as("x"),
        countDistinct("l_orderkey").as("z"))

  private val weeklyLineitemSql: String =
    """weekly AS MATERIALIZED (SELECT wk, CAST(SUM(qty) AS BIGINT) AS q,
        CAST(SUM(disc4) AS BIGINT) AS x,
        CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS z
      FROM (SELECT
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)
            AS disc4,
          l_orderkey
        FROM lineitem) GROUP BY wk)"""

  // --------------------------------------------- chi-square independence
  // Is the corpus' language mix independent of its source? Pearson's
  // chi² over the FULL source × lang grid (absent cells count as
  // observed 0 — dropping them biases the statistic). The per-cell
  // term (o·N − rt·ct)² / (rt·ct·N) keeps numerator and denominator
  // exact DECIMAL integers — squaring o·N overflows a BIGINT at
  // corpus scale — with ONE division per cell; the cross-cell double
  // sum folds in (source, lang) order on both engines (Spark
  // aggregate over a sorted struct array ↔ DuckDB ordered
  // list_reduce, the q195 pattern), so even float addition order is
  // pinned. Cramér's V normalizes by the grid shape: ÷ and sqrt are
  // correctly rounded, hash-safe.
  private val q206 = QueryDef(
    "q206_chi_square",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val obs = d.groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val grid = d.select("source").distinct()
        .crossJoin(d.select("lang").distinct())
      val rt = d.groupBy("source").agg(count(lit(1)).as("rt"))
      val ct = d.groupBy("lang").agg(count(lit(1)).as("ct"))
      val n = d.select(count(lit(1)).as("n"))
      val dec = "decimal(38,0)"
      val cells = grid
        .join(obs, Seq("source", "lang"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .join(rt, "source").join(ct, "lang").crossJoin(n)
        .withColumn("num",
          pow2(col("o").cast(dec) * col("n").cast(dec)
            - col("rt").cast(dec) * col("ct").cast(dec)))
        .withColumn("den",
          col("rt").cast(dec) * col("ct").cast(dec) * col("n").cast(dec))
        .withColumn("term", col("num").cast("double") / col("den").cast("double"))
      cells
        .agg(
          count(lit(1)).as("n_cells"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          aggregate(
            sort_array(collect_list(struct(col("source"), col("lang"), col("term")))),
            lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"),
          first(col("n")).as("n_docs"))
        .select(
          col("n_cells"),
          ((col("n_sources") - 1) * (col("n_langs") - 1)).as("dof"),
          col("chi2"),
          sqrt(col("chi2") / (col("n_docs") *
            least(col("n_sources") - 1, col("n_langs") - 1)).cast("double"))
            .as("cramers_v"))
    },
    Some("""WITH obs AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2),
      grid AS (SELECT s.source, l.lang
          FROM (SELECT DISTINCT source FROM documents) s,
               (SELECT DISTINCT lang FROM documents) l),
      rt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS rt FROM documents GROUP BY 1),
      ct AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ct FROM documents GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      cells AS (
        SELECT g.source, g.lang,
          CAST((COALESCE(o, 0)::HUGEINT * n::HUGEINT - rt::HUGEINT * ct::HUGEINT)
            * (COALESCE(o, 0)::HUGEINT * n::HUGEINT - rt::HUGEINT * ct::HUGEINT)
            AS DOUBLE)
          / CAST(rt::HUGEINT * ct::HUGEINT * n::HUGEINT AS DOUBLE) AS term
        FROM grid g
        LEFT JOIN obs USING (source, lang)
        JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST((COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1) AS BIGINT) AS dof,
        list_reduce(list(term ORDER BY source, lang), (a, b) -> a + b) AS chi2,
        sqrt(list_reduce(list(term ORDER BY source, lang), (a, b) -> a + b)
          / CAST((SELECT n FROM n)
            * LEAST(COUNT(DISTINCT source) - 1, COUNT(DISTINCT lang) - 1) AS DOUBLE))
          AS cramers_v
      FROM cells"""),
    covers = Seq("STAT-chi-square"))

  // --------------------------------------------- rank-sum AUC
  // Mann-Whitney AUC of "does embedding dim 1 separate label L from
  // the rest", one-vs-rest per label — the eval metric behind every
  // quality-classifier gate in a curation loop. Exact: ties
  // contribute ½ via doubled average ranks (2·r̄ = 2·rank + ties − 1,
  // integers end-to-end), AUC = (2R − n_pos(n_pos+1)) / (2·n_pos·n_neg)
  // as ONE division of exact BIGINTs. The global score ranking is a
  // single window sort here; at 100 TB rank() range-partitions by
  // score with per-partition offsets (the q159 equi-depth shape) —
  // the integer arithmetic is unchanged.
  private val q207 = QueryDef(
    "q207_auc_ranksum",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("label"),
          element_at(col("embedding"), 1).cast("double").as("score"))
      val wr = Window.orderBy("score")
      val wt = Window.partitionBy("score")
      val ranked = e
        .withColumn("rk", rank().over(wr).cast("long"))
        .withColumn("ties", count(lit(1)).over(wt))
        .withColumn("r2", lit(2L) * col("rk") + col("ties") - 1L)
      val n = ranked.select(count(lit(1)).as("n_all"))
      ranked.groupBy("label")
        .agg(count(lit(1)).as("n_pos"), sum(col("r2")).as("r2sum"))
        .crossJoin(n)
        .select(col("label"), col("n_pos"),
          ((col("r2sum") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2L) * col("n_pos") * (col("n_all") - col("n_pos"))).cast("double"))
            .as("auc"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT label, CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
      ranked AS (
        SELECT label,
          2 * RANK() OVER (ORDER BY score) + COUNT(*) OVER (PARTITION BY score) - 1 AS r2
        FROM e),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM e)
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pos,
        CAST(CAST(SUM(r2) AS BIGINT) - COUNT(*) * (COUNT(*) + 1) AS DOUBLE)
          / CAST(2 * COUNT(*) * (n_all - COUNT(*)) AS DOUBLE) AS auc
      FROM ranked CROSS JOIN n
      GROUP BY label, n_all ORDER BY label"""),
    covers = Seq("STAT-auc"))

  // --------------------------------------------- Kolmogorov-Smirnov
  // Two-sample KS distance between the dim-1 score distributions of
  // even- and odd-labeled vectors — the drift test between two
  // corpus slices. Exact to the last bit: the ECDF gap at a point is
  // |cumA/nA − cumB/nB| = |cumA·nB − cumB·nA| / (nA·nB), so the
  // maximum is found over cross-multiplied INTEGERS (no float
  // compare ever decides the argmax) and divided once at the end.
  // One distinct-score aggregate, one ordered window — at 100 TB the
  // cumulative sums range-partition by score like any global rank.
  private val q208 = QueryDef(
    "q208_ks_statistic",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select((col("label") % 2).as("g"),
          element_at(col("embedding"), 1).cast("double").as("score"))
      val per = e.groupBy("score")
        .agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = per
        .withColumn("cum_a", sum(col("ca")).over(w))
        .withColumn("cum_b", sum(col("cb")).over(w))
      val ns = e.agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("nb"))
      cum.crossJoin(ns)
        .select(col("na"), col("nb"),
          abs(col("cum_a") * col("nb") - col("cum_b") * col("na")).as("gap"))
        .groupBy("na", "nb")
        .agg(max(col("gap")).as("ks_num"))
        .select(col("na"), col("nb"), col("ks_num"),
          (col("ks_num").cast("double") / (col("na") * col("nb")).cast("double"))
            .as("ks"))
    },
    Some("""WITH e AS (
        SELECT label % 2 AS g, CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
      per AS (
        SELECT score,
          CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM e GROUP BY score),
      cum AS (
        SELECT
          CAST(SUM(ca) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
          CAST(SUM(cb) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        FROM per),
      ns AS (SELECT
          CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM e)
      SELECT na, nb,
        CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS BIGINT) AS ks_num,
        CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS DOUBLE)
          / CAST(na * nb AS DOUBLE) AS ks
      FROM cum CROSS JOIN ns
      GROUP BY na, nb"""),
    covers = Seq("STAT-ks"))

  // --------------------------------------------- Cohen's kappa
  // Chance-corrected agreement between the declared `lang` column and
  // q26's heuristic language identifier — the inter-annotator metric
  // for deciding whether a cheap labeler can replace an expensive
  // one. κ = (agree·n − Σ_c rowₙ(c)·colₙ(c)) / (n² − Σ_c rowₙ(c)·colₙ(c)):
  // both numerator and denominator are exact BIGINT bilinears of
  // marginal counts, so κ is ONE division of integers. The heuristic
  // 'unknown' class has zero row-marginal and drops out of the
  // chance term by itself.
  private val q209 = QueryDef(
    "q209_cohens_kappa",
    (s, dir) => {
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      def has(words: String*): Column =
        words.map(w => padded.contains(s" $w ")).reduce(_ || _)
      val pred = when(has("der", "und", "nicht", "das"), "de")
        .when(has("el", "los", "las", "una"), "es")
        .when(has("le", "les", "des", "une"), "fr")
        .when(has("de", "het", "een", "niet"), "nl")
        .when(has("the", "and", "of", "is"), "en")
        .otherwise("unknown")
      val d = Tables.load(s, dir, "documents").select(col("lang"), pred.as("pred_lang"))
      val ra = d.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("ra"))
      val rb = d.groupBy(col("pred_lang").as("cls")).agg(count(lit(1)).as("rb"))
      val pe = ra.join(rb, "cls")
        .agg(sum(col("ra") * col("rb")).as("pe_num"))
      d.agg(
          count(lit(1)).as("n"),
          sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L)).as("agree"))
        .crossJoin(pe)
        .select(col("n"), col("agree"), col("pe_num"),
          ((col("agree") * col("n") - col("pe_num")).cast("double") /
            (col("n") * col("n") - col("pe_num")).cast("double")).as("kappa"))
    },
    Some {
      def has(words: Seq[String]): String =
        words.map(w => s"contains(' ' || lower(text) || ' ', ' $w ')")
          .mkString("(", " OR ", ")")
      s"""WITH d AS (
        SELECT lang,
          CASE WHEN ${has(Seq("der", "und", "nicht", "das"))} THEN 'de'
               WHEN ${has(Seq("el", "los", "las", "una"))} THEN 'es'
               WHEN ${has(Seq("le", "les", "des", "une"))} THEN 'fr'
               WHEN ${has(Seq("de", "het", "een", "niet"))} THEN 'nl'
               WHEN ${has(Seq("the", "and", "of", "is"))} THEN 'en'
               ELSE 'unknown' END AS pred_lang
        FROM documents),
      ra AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS ra FROM d GROUP BY 1),
      rb AS (SELECT pred_lang AS cls, CAST(COUNT(*) AS BIGINT) AS rb FROM d GROUP BY 1),
      pe AS (SELECT CAST(SUM(ra * rb) AS BIGINT) AS pe_num FROM ra JOIN rb USING (cls))
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        pe_num,
        CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) * COUNT(*) - pe_num AS DOUBLE)
          / CAST(COUNT(*) * COUNT(*) - pe_num AS DOUBLE) AS kappa
      FROM d CROSS JOIN pe
      GROUP BY pe_num"""
    },
    covers = Seq("STAT-kappa"))

  // ------------------------------------- precision/recall/F1 sweep
  // Classifier operating-point sweep: precision, recall and F1 of
  // "dim-1 score ≥ t ⇒ even label" at each decile threshold of the
  // score distribution. Thresholds are EXACT order statistics
  // (row_number = ceil(q·n), q164's integer arithmetic — no
  // interpolated floats), the 9-row threshold table broadcasts into
  // a bounded 9× fan-out, and every metric is ONE division of exact
  // integer confusion counts. The full sweep is a single corpus scan
  // + one keyed aggregate — not 9 passes.
  private val q210 = QueryDef(
    "q210_pr_f1_sweep",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select((col("label") % 2 === 0).as("pos"),
          element_at(col("embedding"), 1).cast("double").as("score"))
      val n = e.count()
      val ranked = e.select(col("score"))
        .withColumn("rn", row_number().over(Window.orderBy("score", "score")))
      val thresholds = ranked
        .join(
          s.range(1, 10).select(col("id").as("decile"),
            ceil(col("id") * n / 10.0).cast("long").as("rn")),
          "rn")
        .select(col("decile"), col("score").as("t"))
      e.crossJoin(broadcast(thresholds))
        .groupBy("decile", "t")
        .agg(
          sum(when(col("score") >= col("t") && col("pos"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("score") >= col("t") && !col("pos"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("score") < col("t") && col("pos"), 1L).otherwise(0L)).as("fn"))
        .select(col("decile"), col("tp"), col("fp"), col("fn"),
          (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("precision"),
          (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            .as("recall"),
          ((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")).as("f1"))
        .orderBy("decile")
    },
    Some("""WITH e AS (
        SELECT label % 2 = 0 AS pos, CAST(embedding[1] AS DOUBLE) AS score
        FROM embeddings),
      ranked AS (
        SELECT score, row_number() OVER (ORDER BY score, score) AS rn FROM e),
      n AS (SELECT COUNT(*) AS n FROM e),
      thresholds AS (
        SELECT d.decile, r.score AS t
        FROM (SELECT unnest(generate_series(1, 9)) AS decile) d
        JOIN n ON TRUE
        JOIN ranked r ON r.rn = CAST(CEIL(d.decile * n / 10.0) AS BIGINT)),
      cm AS (
        SELECT decile, t,
          CAST(SUM(CASE WHEN score >= t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(SUM(CASE WHEN score >= t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(SUM(CASE WHEN score < t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM e CROSS JOIN thresholds GROUP BY decile, t)
      SELECT decile, tp, fp, fn,
        CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
      FROM cm ORDER BY decile"""),
    covers = Seq("STAT-pr-f1"))

  // ------------------------------------------- interpolated percentiles
  // PERCENTILE_CONT(k/4) per priority class WITHOUT trusting either
  // engine's native interpolation internals: the index splits as
  // h = (n−1)·k = 4·lo + rem in INTEGERS, the two bracketing order
  // statistics are picked by row_number, and the interpolation
  // v_lo + (v_hi − v_lo)·rem/4 runs the identical IEEE tree on both
  // engines over exact cent values (q50/q164 gate the discrete
  // variants). One window pass + one aggregate; no per-quantile scan.
  private val q214 = QueryDef(
    "q214_percentile_cont",
    (s, dir) => {
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      val w = Window.partitionBy("o_orderpriority").orderBy("cents")
      val ranked = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"), cents.as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderpriority")))
      def pick(k: Int): Seq[org.apache.spark.sql.Column] = {
        val lo = expr(s"((n - 1) * $k) div 4")
        val rem = ((col("n") - 1) * k) % 4
        Seq(
          max(when(col("rn") === lo + 1, col("cents"))).as(s"vlo_$k"),
          max(when(col("rn") === lo + 2, col("cents"))).as(s"vhi_$k"),
          max(rem).as(s"rem_$k"))
      }
      def interp(k: Int): org.apache.spark.sql.Column = {
        val vlo = col(s"vlo_$k").cast("double")
        val vhi = coalesce(col(s"vhi_$k"), col(s"vlo_$k")).cast("double")
        ((vlo + (vhi - vlo) * col(s"rem_$k").cast("double") / 4.0) / 100.0)
          .as(s"p${k * 25}")
      }
      ranked.groupBy("o_orderpriority")
        .agg((pick(1) ++ pick(2) ++ pick(3)).head,
          (pick(1) ++ pick(2) ++ pick(3)).tail: _*)
        .select(col("o_orderpriority") +: (1 to 3).map(interp): _*)
        .orderBy("o_orderpriority")
    },
    Some("""WITH ranked AS (
        SELECT o_orderpriority,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rn,
          COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders),
      agg AS (
        SELECT o_orderpriority,
          MAX(CASE WHEN rn = (n-1) * 1 // 4 + 1 THEN cents END) AS vlo_1,
          MAX(CASE WHEN rn = (n-1) * 1 // 4 + 2 THEN cents END) AS vhi_1,
          MAX((n-1) * 1 % 4) AS rem_1,
          MAX(CASE WHEN rn = (n-1) * 2 // 4 + 1 THEN cents END) AS vlo_2,
          MAX(CASE WHEN rn = (n-1) * 2 // 4 + 2 THEN cents END) AS vhi_2,
          MAX((n-1) * 2 % 4) AS rem_2,
          MAX(CASE WHEN rn = (n-1) * 3 // 4 + 1 THEN cents END) AS vlo_3,
          MAX(CASE WHEN rn = (n-1) * 3 // 4 + 2 THEN cents END) AS vhi_3,
          MAX((n-1) * 3 % 4) AS rem_3
        FROM ranked GROUP BY o_orderpriority)
      SELECT o_orderpriority,
        (CAST(vlo_1 AS DOUBLE) + (CAST(COALESCE(vhi_1, vlo_1) AS DOUBLE)
          - CAST(vlo_1 AS DOUBLE)) * CAST(rem_1 AS DOUBLE) / 4.0) / 100.0 AS p25,
        (CAST(vlo_2 AS DOUBLE) + (CAST(COALESCE(vhi_2, vlo_2) AS DOUBLE)
          - CAST(vlo_2 AS DOUBLE)) * CAST(rem_2 AS DOUBLE) / 4.0) / 100.0 AS p50,
        (CAST(vlo_3 AS DOUBLE) + (CAST(COALESCE(vhi_3, vlo_3) AS DOUBLE)
          - CAST(vlo_3 AS DOUBLE)) * CAST(rem_3 AS DOUBLE) / 4.0) / 100.0 AS p75
      FROM agg ORDER BY o_orderpriority"""),
    covers = Seq("STAT-percentile-cont"))

  // ----------------------------------------------- Welch's t-test
  // Unequal-variance two-sample t between returned ('R') and accepted
  // ('A') line prices. One conditional aggregate produces both
  // groups' (n, Σx, Σx²) — sums exact in DECIMAL, surfaced to double
  // via [[d4ToDouble]] — then mean/variance/t/df come from one shared IEEE
  // tree: m=s/n, v=(q−s²/n)/(n−1), t=(m1−m2)/√(v1/n1+v2/n2), Welch–
  // Satterthwaite df. Single scan, single-row reduce — at 100 TB this
  // is a map-side-combined O(1)-state aggregate.
  private val q228 = QueryDef(
    "q228_welch_ttest",
    (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      def side(flag: String, p: String) = Seq(
        sum(when(col("l_returnflag") === flag, 1L).otherwise(0L)).as(s"n$p"),
        sum(when(col("l_returnflag") === flag, dec(col("l_extendedprice"))))
          .cast("double").as(s"s$p"),
        d4ToDouble(sum(when(col("l_returnflag") === flag,
          dec(col("l_extendedprice")) * dec(col("l_extendedprice")))))
          .as(s"q$p"))
      val aggs = side("R", "1") ++ side("A", "2")
      val st = l.agg(aggs.head, aggs.tail: _*)
      val (n1, s1, q1) = (col("n1").cast("double"), col("s1"), col("q1"))
      val (n2, s2, q2) = (col("n2").cast("double"), col("s2"), col("q2"))
      val m1 = s1 / n1
      val m2 = s2 / n2
      val v1 = (q1 - s1 * s1 / n1) / (n1 - lit(1.0d))
      val v2 = (q2 - s2 * s2 / n2) / (n2 - lit(1.0d))
      val se1 = v1 / n1
      val se2 = v2 / n2
      val tStat = (m1 - m2) / sqrt(se1 + se2)
      val df = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (n1 - lit(1.0d)) + se2 * se2 / (n2 - lit(1.0d)))
      st.select(col("n1"), col("n2"), m1.as("mean_r"), m2.as("mean_a"),
        tStat.as("t_stat"), df.as("welch_df"))
    },
    Some("""WITH g AS (SELECT
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN l_returnflag = 'R'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN l_returnflag = 'R'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS q1,
        CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN l_returnflag = 'A'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN l_returnflag = 'A'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS q2
      FROM lineitem)
      SELECT n1, n2,
        s1 / CAST(n1 AS DOUBLE) AS mean_r,
        s2 / CAST(n2 AS DOUBLE) AS mean_a,
        (s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE)) /
          sqrt(((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
                 / CAST(n1 AS DOUBLE)
             + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
                 / CAST(n2 AS DOUBLE)) AS t_stat,
        (((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)
         + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) *
        (((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)
         + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) /
        ((((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)) *
         (((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1)
         + (((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) *
           (((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1)) AS welch_df
      FROM g"""),
    covers = Seq("STAT-welch-t"))

  // ----------------------------------------------- one-way ANOVA F
  // Does order priority move order value? F = (SSB/(k−1))/(SSW/(N−k))
  // over the 5 priority groups. The 5 per-group (n, Σx) pairs pivot
  // into columns of ONE aggregate row; SSB/SSW then come from a fixed
  // left-to-right float tree (group order hard-coded, never
  // data-dependent), with Σx² shared for the total sum of squares.
  private val q229 = QueryDef(
    "q229_anova_f",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val flags = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val aggs = flags.zipWithIndex.flatMap { case (f, i) =>
        Seq(
          sum(when(col("o_orderpriority") === f, 1L).otherwise(0L)).as(s"n$i"),
          sum(when(col("o_orderpriority") === f, dec(col("o_totalprice"))))
            .cast("double").as(s"s$i"))
      } :+ d4ToDouble(sum(dec(col("o_totalprice")) * dec(col("o_totalprice"))))
        .as("qq")
      val st = o.agg(aggs.head, aggs.tail: _*)
      def nD(i: Int) = col(s"n$i").cast("double")
      def sD(i: Int) = col(s"s$i")
      // fixed fold order: ((((g0 + g1) + g2) + g3) + g4)
      val groupSq = (0 until 5).map(i => sD(i) * sD(i) / nD(i)).reduceLeft(_ + _)
      val nTot = (0 until 5).map(nD).reduceLeft(_ + _)
      val sTot = (0 until 5).map(sD).reduceLeft(_ + _)
      val ssb = groupSq - sTot * sTot / nTot
      val ssw = col("qq") - groupSq
      val f = (ssb / lit(4.0d)) / (ssw / (nTot - lit(5.0d)))
      st.select(
        nTot.cast("long").as("n_total"), ssb.as("ss_between"),
        ssw.as("ss_within"), f.as("f_stat"))
    },
    Some("""WITH g AS (SELECT
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s0,
        CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
        CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
        CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s3,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s4,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
                 CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qq
      FROM orders)
      SELECT CAST(n0+n1+n2+n3+n4 AS BIGINT) AS n_total,
        ((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4)
          - (((((s0+s1)+s2)+s3)+s4) * ((((s0+s1)+s2)+s3)+s4))
            / ((((n0+n1)+n2)+n3)+n4) AS ss_between,
        qq - ((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4)
          AS ss_within,
        (((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4)
          - (((((s0+s1)+s2)+s3)+s4) * ((((s0+s1)+s2)+s3)+s4))
            / ((((n0+n1)+n2)+n3)+n4)) / 4 /
        ((qq - ((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4))
          / (((((n0+n1)+n2)+n3)+n4) - 5)) AS f_stat
      FROM g"""),
    covers = Seq("STAT-anova-f"))

  // ------------------------------------------------- Spearman rank corr
  // Spearman rank correlation between daily order volume and daily
  // revenue, per year — the outlier-robust companion to Pearson
  // (q51/q241): correlate the RANKS, not the values. Ties get the
  // standard average rank, kept EXACT as twice-the-average-rank
  // (2·avg = 2·rank + tie_count − 1, an integer; Pearson is scale
  // invariant so the ×2 cancels). From there the q241 discipline:
  // all five moments are exact LONG sums of small integers (ranks ≤
  // 2·366), and the correlation emerges from ONE shared IEEE tree
  // over exactly-representable integers. The windows rank WITHIN a
  // year over the pre-aggregated daily grain (≤366 rows per
  // partition at any data scale).
  private val q260 = QueryDef(
    "q260_spearman",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"), sum(dec(col("o_totalprice"))).as("y"))
        .withColumn("yr", year(col("d")).cast("long"))
      val rx = rank().over(Window.partitionBy("yr").orderBy("x")).cast("long")
      val cx = count(lit(1)).over(Window.partitionBy("yr", "x"))
      val ry = rank().over(Window.partitionBy("yr").orderBy("y")).cast("long")
      val cy = count(lit(1)).over(Window.partitionBy("yr", "y"))
      val ranked = daily
        .withColumn("rx2", lit(2L) * rx + cx - 1L)
        .withColumn("ry2", lit(2L) * ry + cy - 1L)
      val g = ranked.groupBy("yr").agg(
        count(lit(1)).as("n"),
        sum(col("rx2")).as("sx"), sum(col("ry2")).as("sy"),
        sum(col("rx2") * col("rx2")).as("sxx"),
        sum(col("ry2") * col("ry2")).as("syy"),
        sum(col("rx2") * col("ry2")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den1 = col("n") * col("sxx") - col("sx") * col("sx")
      val den2 = col("n") * col("syy") - col("sy") * col("sy")
      g.filter(den1 > 0 && den2 > 0)
        .select(col("yr"), col("n").as("n_days"),
          (num.cast("double") /
            (sqrt(den1.cast("double")) * sqrt(den2.cast("double"))))
            .as("spearman"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        FROM orders GROUP BY 1),
      yearly AS (SELECT *, CAST(EXTRACT(year FROM d) AS BIGINT) AS yr FROM daily),
      ranked AS (SELECT yr,
          2 * CAST(RANK() OVER (PARTITION BY yr ORDER BY x) AS BIGINT)
            + CAST(COUNT(*) OVER (PARTITION BY yr, x) AS BIGINT) - 1 AS rx2,
          2 * CAST(RANK() OVER (PARTITION BY yr ORDER BY y) AS BIGINT)
            + CAST(COUNT(*) OVER (PARTITION BY yr, y) AS BIGINT) - 1 AS ry2
        FROM yearly),
      g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
          CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
          CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
          CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
        FROM ranked GROUP BY yr)
      SELECT yr, n AS n_days,
        CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman
      FROM g
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      ORDER BY yr"""),
    covers = Seq("STAT-spearman"))

  // ------------------------------------------------- trimmed mean
  // 10%-trimmed mean of order value per priority: DROP the bottom and
  // top decile by rank and average the interior — the robust mean
  // that q146's winsorize approximates by clamping. Row selection is
  // by row_number over a TOTAL order (value, then orderkey), so the
  // kept SET is engine-independent even with duplicate values; the
  // interior mean is an exact DECIMAL sum over that set with one
  // final cast. Trim boundaries use the pinned integer `div`.
  private val q273 = QueryDef(
    "q273_trimmed_mean",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority").as("p"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("x"),
          col("o_orderkey"))
      val w = Window.partitionBy("p").orderBy(col("x"), col("o_orderkey"))
      val ranked = o
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("p")))
      ranked
        .filter(col("i") > expr("n div 10") &&
          col("i") <= col("n") - expr("n div 10"))
        .groupBy("p")
        .agg(first(col("n")).as("n_total"),
          count(lit(1)).as("n_kept"),
          sum(col("x")).as("kept_sum"))
        .select(col("p"), col("n_total"), col("n_kept"),
          (col("kept_sum").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean"))
        .orderBy("p")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS p,
          CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey
        FROM orders),
      ranked AS (SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY x, o_orderkey)
            AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS n
        FROM o)
      SELECT p, MIN(n) AS n_total, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
      FROM ranked
      WHERE i > n // 10 AND i <= n - n // 10
      GROUP BY p ORDER BY p"""),
    covers = Seq("STAT-trimmed-mean"))

  // ------------------------------------------------- Kendall tau-b
  // Concordance between daily volume and revenue per year: every day
  // pair votes concordant (both move the same way), discordant, or
  // tied, and tau-b normalizes by the tie-adjusted pair counts. All
  // counts are exact longs from integer/DECIMAL comparisons — no
  // ranks, no floats until the single closing tree
  // (C−D)/(√(n0−n1)·√(n0−n2)). The O(days²) self-join is bounded by
  // the DAILY grain (≤366 rows per year at any data scale), and
  // partitions by year.
  private val q274 = QueryDef(
    "q274_kendall_tau",
    (s, dir) => {
      val d = daily(s, dir)
      val a = d.select(col("yr"), col("d").as("d1"),
        col("x").as("x1"), col("y").as("y1"))
      val b = d.select(col("yr"), col("d").as("d2"),
        col("x").as("x2"), col("y").as("y2"))
      val pairs = a.join(b, Seq("yr")).filter(col("d1") < col("d2"))
      val cmpX = when(col("x1") < col("x2"), 1L)
        .when(col("x1") > col("x2"), -1L).otherwise(0L)
      val cmpY = when(col("y1") < col("y2"), 1L)
        .when(col("y1") > col("y2"), -1L).otherwise(0L)
      val g = pairs
        .withColumn("cx", cmpX).withColumn("cy", cmpY)
        .groupBy("yr")
        .agg(count(lit(1)).as("n0"),
          sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("dd"),
          sum(when(col("cx") === 0L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("cy") === 0L, 1L).otherwise(0L)).as("n2"))
      g.filter(col("n0") > col("n1") && col("n0") > col("n2"))
        .select(col("yr"), col("n0").as("n_pairs"),
          col("c").as("concordant"), col("dd").as("discordant"),
          ((col("c") - col("dd")).cast("double") /
            (sqrt((col("n0") - col("n1")).cast("double"))
              * sqrt((col("n0") - col("n2")).cast("double"))))
            .as("tau_b"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y,
               CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT a.yr,
          CASE WHEN a.x < b.x THEN 1 WHEN a.x > b.x THEN -1 ELSE 0 END AS cx,
          CASE WHEN a.y < b.y THEN 1 WHEN a.y > b.y THEN -1 ELSE 0 END AS cy
        FROM daily a JOIN daily b ON a.yr = b.yr AND a.d < b.d),
      g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS dd,
          CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM pairs GROUP BY yr)
      SELECT yr, n0 AS n_pairs, c AS concordant, dd AS discordant,
        CAST(c - dd AS DOUBLE) /
          (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE)))
          AS tau_b
      FROM g WHERE n0 > n1 AND n0 > n2 ORDER BY yr"""),
    covers = Seq("STAT-kendall"))

  // ------------------------------------------------- runs test
  // Wald–Wolfowitz randomness check on the daily series: is the
  // up/down pattern around the year's median independent, or does it
  // trend/oscillate? The median is the VALUE at rank (n+1) div 2 —
  // well-defined whatever the tie order — days equal to it drop out
  // (the standard treatment), and a run boundary is an exact integer
  // sign flip counted by lag(). Everything through the run/up/down
  // counts is integer; the z-score closes with one fixed tree from
  // the exact n1, n2, R.
  private val q275 = QueryDef(
    "q275_runs_test",
    (s, dir) => {
      val d = daily(s, dir).select("yr", "d", "x")
      val wRank = Window.partitionBy("yr").orderBy(col("x"), col("d"))
      val wYear = Window.partitionBy("yr")
      val med = d
        .withColumn("i", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wYear))
        .withColumn("m",
          max(when(col("i") === expr("(n + 1) div 2"), col("x"))).over(wYear))
      val signed = med.filter(col("x") =!= col("m"))
        .withColumn("up", (col("x") > col("m")).cast("long"))
      val wSeq = Window.partitionBy("yr").orderBy("d")
      val runs = signed
        .withColumn("flip",
          when(lag(col("up"), 1).over(wSeq).isNull, 1L)
            .when(lag(col("up"), 1).over(wSeq) =!= col("up"), 1L)
            .otherwise(0L))
        .groupBy("yr")
        .agg(sum(col("flip")).as("r"),
          sum(col("up")).as("n1"),
          sum(lit(1L) - col("up")).as("n2"))
        .filter(col("n1") > 0 && col("n2") > 0)
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = (col("n1") + col("n2")).cast("double")
      val twoN1N2 = lit(2.0d) * n1d * n2d
      val expected = twoN1N2 / nd + lit(1.0d)
      val variance = (twoN1N2 * (twoN1N2 - nd)) / (nd * nd * (nd - lit(1.0d)))
      runs.select(col("yr"), col("n1"), col("n2"), col("r").as("runs"),
          expected.as("expected_runs"),
          ((col("r").cast("double") - expected) / sqrt(variance)).as("z"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM orders GROUP BY 1),
      med AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY x, d)
                AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY yr) AS BIGINT) AS n
        FROM daily),
      medv AS (SELECT *, MAX(CASE WHEN i = (n + 1) // 2 THEN x END)
                 OVER (PARTITION BY yr) AS m
        FROM med),
      signed AS (SELECT yr, d,
          CAST(x > m AS BIGINT) AS up
        FROM medv WHERE x <> m),
      flips AS (SELECT yr, up,
          CASE WHEN LAG(up) OVER (PARTITION BY yr ORDER BY d) IS NULL THEN 1
               WHEN LAG(up) OVER (PARTITION BY yr ORDER BY d) <> up THEN 1
               ELSE 0 END AS flip
        FROM signed),
      g AS (SELECT yr, CAST(SUM(flip) AS BIGINT) AS r,
          CAST(SUM(up) AS BIGINT) AS n1,
          CAST(SUM(1 - up) AS BIGINT) AS n2
        FROM flips GROUP BY yr)
      SELECT yr, n1, n2, r AS runs,
        CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
          / CAST(n1 + n2 AS DOUBLE) + CAST(1 AS DOUBLE) AS expected_runs,
        (CAST(r AS DOUBLE)
          - (CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / CAST(n1 + n2 AS DOUBLE) + CAST(1 AS DOUBLE)))
        / sqrt((CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                * (CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   - CAST(n1 + n2 AS DOUBLE)))
               / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                  * (CAST(n1 + n2 AS DOUBLE) - CAST(1 AS DOUBLE)))) AS z
      FROM g WHERE n1 > 0 AND n2 > 0 ORDER BY yr"""),
    covers = Seq("STAT-runs-test"))

  // ------------------------------------------------- CVaR
  // Expected shortfall of daily revenue per year: the mean of the
  // worst ⌈5%⌉ days — the coherent tail-risk measure that answers
  // "how bad is a bad day", where a quantile alone answers "how
  // often". The tail SET is picked by row_number over a total order
  // (revenue, then day — exact DECIMAL compares), its size is the
  // integer ⌈n/20⌉, and both the VaR boundary (the worst kept value)
  // and the tail mean close from exact sums with one division each.
  // Daily grain keeps every year's window single-task at any fact
  // size.
  private val q297 = QueryDef(
    "q297_cvar",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
        .withColumn("yr", year(col("d")).cast("long"))
      val wRank = Window.partitionBy("yr").orderBy(col("rev"), col("d"))
      val wYear = Window.partitionBy("yr")
      daily
        .withColumn("i", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wYear))
        .filter(col("i") <= expr("(n + 19) div 20"))
        .groupBy("yr")
        .agg(first(col("n")).as("n_days"),
          count(lit(1)).as("tail_days"),
          max(col("rev")).as("var_boundary"),
          sum(col("rev")).as("tail_sum"))
        .select(col("yr"), col("n_days"), col("tail_days"),
          col("var_boundary").cast("double").as("var_5pct"),
          (col("tail_sum").cast("double") / col("tail_days").cast("double"))
            .as("cvar_5pct"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS yr
        FROM orders GROUP BY 1, 3),
      ranked AS (SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev, d)
            AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY yr) AS BIGINT) AS n
        FROM daily)
      SELECT yr, MIN(n) AS n_days,
        CAST(COUNT(*) AS BIGINT) AS tail_days,
        CAST(MAX(rev) AS DOUBLE) AS var_5pct,
        CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cvar_5pct
      FROM ranked
      WHERE i <= (n + 19) // 20
      GROUP BY yr ORDER BY yr"""),
    covers = Seq("STAT-cvar"))

  // ------------------------------------------------- HHI
  // Herfindahl–Hirschman concentration of supplier revenue per
  // nation: Σ shareᵢ² — the antitrust-grade answer to "is this
  // market a few big players or many small ones" — plus its inverse
  // (the effective number of equal suppliers). Per-supplier revenues
  // are exact DECIMAL sums; each share-square is ONE fixed IEEE tree
  // над them, and the cross-supplier Σ folds an ORDERED list
  // sequentially on both engines (aggregate ↔ list_reduce, the q206
  // discipline) so the double sum is bit-pinned. Supplier grain is
  // dimension-sized: the fold list stays small at any fact scale.
  private val q302 = QueryDef(
    "q302_market_hhi",
    (s, dir) => {
      val rev = Tables.load(s, dir, "lineitem").join(
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nation"), col("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("r"))
      val tot = rev.groupBy("nation")
        .agg(sum(col("r")).cast(DecimalType(38, 2)).as("tr"),
          count(lit(1)).as("n_suppliers"))
      val share = col("x.r").cast("double") / col("tr").cast("double")
      val terms = rev.as("x").join(tot, "nation")
        .select(col("nation"), col("n_suppliers"), col("tr"),
          col("x.s_suppkey").as("sk"), (share * share).as("v"))
      terms.groupBy("nation")
        .agg(first(col("n_suppliers")).as("n_suppliers"),
          first(col("tr")).cast("double").as("total_rev"),
          aggregate(
            sort_array(collect_list(struct(col("sk"), col("v")))),
            lit(0.0d), (acc, x) => acc + x.getField("v")).as("hhi"))
        .select(col("nation"), col("n_suppliers"), col("total_rev"),
          col("hhi"), (lit(1.0d) / col("hhi")).as("effective_suppliers"))
        .orderBy("nation")
    },
    Some("""WITH rev AS (SELECT s_nationkey AS nation, s_suppkey,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      tot AS (SELECT nation, CAST(SUM(r) AS DECIMAL(38,2)) AS tr,
          CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY 1),
      terms AS (SELECT rev.nation, n_suppliers, tr, s_suppkey AS sk,
          (CAST(r AS DOUBLE) / CAST(tr AS DOUBLE))
            * (CAST(r AS DOUBLE) / CAST(tr AS DOUBLE)) AS v
        FROM rev JOIN tot USING (nation)),
      folded AS (SELECT nation,
          MIN(n_suppliers) AS n_suppliers,
          CAST(MIN(tr) AS DOUBLE) AS total_rev,
          list_reduce(list(v ORDER BY sk), (a, b) -> a + b) AS hhi
        FROM terms GROUP BY nation)
      SELECT nation, n_suppliers, total_rev, hhi,
        CAST(1 AS DOUBLE) / hhi AS effective_suppliers
      FROM folded ORDER BY nation"""),
    covers = Seq("STAT-hhi"))

  // ------------------------------------------------- Q-Q table
  // Quantile-quantile comparison of document length between each
  // language and the corpus: the harmonization table a score-
  // normalization step reads. percentile_disc picks real members
  // (exact order statistics, no interpolation), evaluated at the
  // deciles; the corpus side broadcasts.
  private val q334 = QueryDef(
    "q334_qq_table",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      def qcols(src: DataFrame, pre: String) = src.agg(
        expr(s"percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars)")
          .as(s"${pre}1"),
        (2 to 9).map(i =>
          expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars)")
            .as(s"$pre$i")): _*)
      val perLang = d.groupBy("lang").agg(
        expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars)").as("l1"),
        (2 to 9).map(i =>
          expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars)")
            .as(s"l$i")): _*)
      val corpus = qcols(d, "c")
      val unpivoted = perLang.crossJoin(broadcast(corpus))
        .select(col("lang"), explode(array((1 to 9).map(i =>
          struct(lit(i.toLong).as("decile"),
            col(s"l$i").as("lang_q"), col(s"c$i").as("corpus_q"))): _*))
          .as("p"))
        .select(col("lang"), col("p.decile"),
          // Spark's percentile_disc surfaces DOUBLE even over integer
          // input; the picked values are exact members, so the BIGINT
          // cast is lossless and matches the oracle's type
          col("p.lang_q").cast(LongType).as("lang_q"),
          col("p.corpus_q").cast(LongType).as("corpus_q"))
      unpivoted
        .withColumn("qq_ratio",
          col("lang_q").cast("double") / col("corpus_q").cast("double"))
        .orderBy("lang", "decile")
    },
    Some {
      val langQ = (1 to 9).map(i =>
        s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars) AS l$i")
        .mkString(", ")
      val corpQ = (1 to 9).map(i =>
        s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars) AS c$i")
        .mkString(", ")
      val rows = (1 to 9).map(i =>
        s"SELECT lang, CAST($i AS BIGINT) AS decile, " +
          s"CAST(l$i AS BIGINT) AS lang_q, " +
          s"CAST(c$i AS BIGINT) AS corpus_q FROM pl, c")
        .mkString(" UNION ALL ")
      s"""WITH pl AS (SELECT lang, $langQ FROM documents GROUP BY lang),
      c AS (SELECT $corpQ FROM documents),
      u AS ($rows)
      SELECT lang, decile, lang_q, corpus_q,
        CAST(lang_q AS DOUBLE) / CAST(corpus_q AS DOUBLE) AS qq_ratio
      FROM u ORDER BY lang, decile"""
    },
    covers = Seq("STAT-qq"))

  // ------------------------------------------------- rank location
  // Mann-Whitney-style location profile: each source's mean corpus
  // percentile of document length — sources drifting long or short in
  // one number each. Global ranks are unique ((n_chars, doc_id)
  // total order), the mean percentile is Σrank/(n_src·(N+1)) — a
  // single division over exact longs; 0.5 = perfectly central.
  private val q338 = QueryDef(
    "q338_source_rank_location",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      // global length rank over ALL DOCUMENTS — row-scale; two-phase
      // GlobalOrder form (round-12 window audit, bit-identical by
      // GlobalOrderSpec)
      val ranked = graft.operators.GlobalOrder.rowNumber(
          d.select(col("source"), col("n_chars"), col("doc_id")),
          col("n_chars"), leadDesc = false,
          Seq(col("n_chars"), col("doc_id")), "rk")
        .withColumn("rk", col("rk").cast(LongType))
      val tot = ranked.agg(count(lit(1)).as("nn"))
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("rk")).as("srk"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          (col("srk").cast("double") /
            (col("n_docs") * (col("nn") + 1L)).cast("double"))
            .as("mean_percentile"))
        .orderBy("source")
    },
    Some("""WITH r AS (SELECT source,
          CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rk
        FROM documents),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM r)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(rk) AS DOUBLE) / CAST(COUNT(*) * (nn + 1) AS DOUBLE)
          AS mean_percentile
      FROM r, tot
      GROUP BY source, nn
      ORDER BY source"""),
    covers = Seq("STAT-rank-location"))

  // ------------------------------------------------- Lorenz curve
  // Revenue concentration as the full curve, not one number (q145's
  // Gini): customers ntile'd into revenue deciles over a unique
  // (revenue, custkey) order, each decile's exact revenue share and
  // the cumulative share — the bottom-decile rows read "the bottom
  // 30% of customers carry X% of revenue".
  private val q339 = QueryDef(
    "q339_lorenz_points",
    (s, dir) => {
      val per = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(rev).as("r"))
      val w = Window.orderBy(col("r"), col("o_custkey"))
      val dec = per.withColumn("decile", ntile(10).over(w).cast(LongType))
      val g = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("r")).cast(DecimalType(38, 4)).as("dec_rev"))
      val tot = g.agg(sum(col("dec_rev")).as("t"))
      val wc = Window.orderBy("decile")
      g.crossJoin(broadcast(tot))
        .withColumn("cum_rev",
          sum(col("dec_rev")).over(wc).cast(DecimalType(38, 4)))
        .select(col("decile"), col("n_customers"),
          (col("dec_rev").cast("double") / col("t").cast("double"))
            .as("rev_share"),
          (col("cum_rev").cast("double") / col("t").cast("double"))
            .as("cum_share"))
        .orderBy("decile")
    },
    Some("""WITH per AS (SELECT o_custkey,
          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey),
      d AS (SELECT o_custkey, r,
          CAST(ntile(10) OVER (ORDER BY r, o_custkey) AS BIGINT) AS decile
        FROM per),
      g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
          CAST(SUM(r) AS DECIMAL(38,4)) AS dec_rev
        FROM d GROUP BY decile),
      tot AS (SELECT CAST(SUM(dec_rev) AS DECIMAL(38,4)) AS t FROM g),
      c AS (SELECT decile, n_customers, dec_rev,
          CAST(SUM(dec_rev) OVER (ORDER BY decile) AS DECIMAL(38,4))
            AS cum_rev
        FROM g)
      SELECT decile, n_customers,
        CAST(dec_rev AS DOUBLE) / CAST(t AS DOUBLE) AS rev_share,
        CAST(cum_rev AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share
      FROM c, tot
      ORDER BY decile"""),
    covers = Seq("STAT-lorenz"))

  // ------------------------------------------------- tail heaviness
  // How heavy is the order-value tail, without a parametric fit (the
  // Hill estimator needs ln): P99/P50 and max/P99 of order totals in
  // exact cents per market segment. Ratios of exact order statistics
  // only.
  private val q367 = QueryDef(
    "q367_tail_heaviness",
    (s, dir) => {
      val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p50"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p99"),
          max(col("c")).as("mx"))
        .select(col("segment"), col("n_orders"),
          (col("p99").cast("double") / col("p50").cast("double"))
            .as("p99_over_p50"),
          (col("mx").cast("double") / col("p99").cast("double"))
            .as("max_over_p99"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p50,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p99,
          MAX(c) AS mx
        FROM o GROUP BY segment)
      SELECT segment, n_orders,
        CAST(p99 AS DOUBLE) / CAST(p50 AS DOUBLE) AS p99_over_p50,
        CAST(mx AS DOUBLE) / CAST(p99 AS DOUBLE) AS max_over_p99
      FROM g ORDER BY segment"""),
    covers = Seq("STAT-tail"))

  // ------------------------------------------------- factorial effects
  // Two-way decomposition of event value: cell mean(hour-band ×
  // weekpart) minus row mean minus column mean plus grand mean — the
  // interaction effect of a 2-factor ANOVA table, every mean a ratio
  // of exact DECIMAL/long sums computed from broadcast marginals with
  // one fixed IEEE tree per cell.
  private val q368 = QueryDef(
    "q368_hour_weekpart_effects",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        (hour(col("ts")) >= 12).as("pm"),
        (dayofweek(col("ts")).isin(1, 7)).as("wkend"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      val cell = e.groupBy("pm", "wkend")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val rowM = e.groupBy("pm")
        .agg(count(lit(1)).as("rn"), sum(col("v")).as("rsv"))
      val colM = e.groupBy("wkend")
        .agg(count(lit(1)).as("cn"), sum(col("v")).as("csv"))
      val g = e.agg(count(lit(1)).as("gn"), sum(col("v")).as("gsv"))
      cell.join(broadcast(rowM), Seq("pm"))
        .join(broadcast(colM), Seq("wkend"))
        .crossJoin(broadcast(g))
        .select(col("pm"), col("wkend"), col("n").as("n_events"),
          (col("sv").cast("double") / col("n").cast("double"))
            .as("cell_mean"),
          (col("sv").cast("double") / col("n").cast("double") -
            col("rsv").cast("double") / col("rn").cast("double") -
            col("csv").cast("double") / col("cn").cast("double") +
            col("gsv").cast("double") / col("gn").cast("double"))
            .as("interaction"))
        .orderBy("pm", "wkend")
    },
    Some("""WITH e AS (SELECT
          EXTRACT(hour FROM ts) >= 12 AS pm,
          dayofweek(ts) IN (0, 6) AS wkend,
          CAST(value AS DECIMAL(18,2)) AS v
        FROM events),
      cell AS (SELECT pm, wkend, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(v) AS sv FROM e GROUP BY pm, wkend),
      rm AS (SELECT pm, CAST(COUNT(*) AS BIGINT) AS rn, SUM(v) AS rsv
             FROM e GROUP BY pm),
      cm AS (SELECT wkend, CAST(COUNT(*) AS BIGINT) AS cn, SUM(v) AS csv
             FROM e GROUP BY wkend),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, SUM(v) AS gsv FROM e)
      SELECT pm, wkend, n AS n_events,
        CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS cell_mean,
        CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(rsv AS DOUBLE) / CAST(rn AS DOUBLE)
          - CAST(csv AS DOUBLE) / CAST(cn AS DOUBLE)
          + CAST(gsv AS DOUBLE) / CAST(gn AS DOUBLE) AS interaction
      FROM cell JOIN rm USING (pm) JOIN cm USING (wkend), g
      ORDER BY pm, wkend"""),
    covers = Seq("STAT-factorial"))

  // ------------------------------------------------- mean CI
  // Normal-approximation 95% confidence interval for mean document
  // length per source: mean ± 1.96·s/√n, everything from exact
  // integer moments, sqrt IEEE-exact — the uncertainty column every
  // per-source report should carry.
  private val q373 = QueryDef(
    "q373_mean_ci",
    (s, dir) => {
      val g = Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val se = sqrt(
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1L).cast("double")))
      g.filter(col("n") > 1)
        .select(col("source"), col("n").as("n_docs"),
          mean.as("mean_chars"),
          (mean - lit(1.96d) * se).as("ci_lo"),
          (mean + lit(1.96d) * se).as("ci_hi"))
        .orderBy("source")
    },
    Some("""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS sx,
          CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source)
      SELECT source, n AS n_docs,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_chars,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(1.96 AS DOUBLE) * sqrt(
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n - 1 AS DOUBLE))) AS ci_lo,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
          + CAST(1.96 AS DOUBLE) * sqrt(
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n - 1 AS DOUBLE))) AS ci_hi
      FROM g WHERE n > 1
      ORDER BY source"""),
    covers = Seq("STAT-ci"))

  // ------------------------------------------------- Kruskal-Wallis
  // Rank-based K-sample location test of order value across market
  // segments: H = 12/(N(N+1))·ΣR_j²/n_j − 3(N+1). Ranks are UNIQUE
  // over the (cents, orderkey) total order (the deterministic
  // tie-break stands in for average ranks, stated up front), so every
  // rank sum is an exact long; the 5 rational segment terms fold in
  // fixed segment order.
  private val q374 = QueryDef(
    "q374_kruskal_wallis",
    (s, dir) => {
      val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"),
          col("o_orderkey"))
      // GLOBAL rank over ALL ORDERS — the round-12 window audit's
      // worst row-scale single-partition window; now the two-phase
      // value-bucketed form (operators/GlobalOrder, bit-identical by
      // GlobalOrderSpec)
      val ranked = graft.operators.GlobalOrder.rowNumber(
          o, col("c"), leadDesc = false,
          Seq(col("c"), col("o_orderkey")), "rk")
        .withColumn("rk", col("rk").cast(LongType))
      val g = ranked.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("rk")).as("rsum"))
        .withColumn("term", col("rsum").cast("double") *
          col("rsum").cast("double") / col("n").cast("double"))
      val tot = g.agg(sum(col("n")).as("nn"),
        aggregate(sort_array(collect_list(struct(col("segment"), col("term")))),
          lit(0.0d), (a, x) => a + x.getField("term")).as("fold"))
      g.crossJoin(broadcast(tot))
        .select(col("segment"), col("n").as("n_orders"),
          (col("rsum").cast("double") / col("n").cast("double"))
            .as("mean_rank"),
          (lit(12.0d) / (col("nn").cast("double") *
            (col("nn") + 1L).cast("double")) * col("fold") -
            lit(3.0d) * (col("nn") + 1L).cast("double")).as("kw_h"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
          o_orderkey
        FROM orders JOIN customer ON o_custkey = c_custkey),
      r AS (SELECT segment,
          CAST(row_number() OVER (ORDER BY c, o_orderkey) AS BIGINT) AS rk
        FROM o),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(rk) AS BIGINT) AS rsum
        FROM r GROUP BY segment),
      tm AS (SELECT segment, n, rsum,
          CAST(rsum AS DOUBLE) * CAST(rsum AS DOUBLE) / CAST(n AS DOUBLE)
            AS term
        FROM g),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
          CAST(0 AS DOUBLE) + list_reduce(list(term ORDER BY segment),
            (a, b) -> a + b) AS fold
        FROM tm)
      SELECT segment, n AS n_orders,
        CAST(rsum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_rank,
        CAST(12 AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
          * fold - CAST(3 AS DOUBLE) * CAST(nn + 1 AS DOUBLE) AS kw_h
      FROM tm, tot
      ORDER BY segment"""),
    covers = Seq("STAT-kruskal"))

  // ------------------------------------------------- stratified independence
  // Is (lang ⫫ source) WITHIN each length band? Per band the
  // chi-square statistic over observed cells against the within-band
  // marginal expectation — Simpson's-paradox insurance for the q206
  // global test. Every cell term is rational from exact counts and
  // folds in fixed (lang, source) order per band.
  private val q377 = QueryDef(
    "q377_stratified_independence",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(expr("n_chars DIV 400").as("band"), col("lang"),
          col("source"))
      val cells = d.groupBy("band", "lang", "source")
        .agg(count(lit(1)).as("o"))
      val rows = d.groupBy("band", "lang").agg(count(lit(1)).as("rt"))
      val cols = d.groupBy("band", "source").agg(count(lit(1)).as("ct"))
      val tots = d.groupBy("band").agg(count(lit(1)).as("tt"))
      val terms = cells.join(rows, Seq("band", "lang"))
        .join(cols, Seq("band", "source"))
        .join(tots, Seq("band"))
        .withColumn("e", col("rt").cast("double") * col("ct").cast("double") /
          col("tt").cast("double"))
        .withColumn("term",
          (col("o").cast("double") - col("e")) *
            (col("o").cast("double") - col("e")) / col("e"))
      terms.groupBy("band")
        .agg(count(lit(1)).as("n_cells"), first(col("tt")).as("n_docs"),
          aggregate(sort_array(collect_list(
            struct(col("lang"), col("source"), col("term")))),
            lit(0.0d), (a, x) => a + x.getField("term")).as("chi2"))
        .orderBy("band")
    },
    Some("""WITH d AS (SELECT n_chars // 400 AS band, lang, source
          FROM documents),
      cells AS (SELECT band, lang, source, CAST(COUNT(*) AS BIGINT) AS o
                FROM d GROUP BY band, lang, source),
      r AS (SELECT band, lang, CAST(COUNT(*) AS BIGINT) AS rt
            FROM d GROUP BY band, lang),
      c AS (SELECT band, source, CAST(COUNT(*) AS BIGINT) AS ct
            FROM d GROUP BY band, source),
      tt AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS tt
             FROM d GROUP BY band),
      terms AS (SELECT cells.band, cells.lang, cells.source,
          (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(tt AS DOUBLE))
          * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(tt AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE))
            AS term, tt
        FROM cells
        JOIN r USING (band, lang)
        JOIN c USING (band, source)
        JOIN tt USING (band))
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_cells,
        MIN(tt) AS n_docs,
        CAST(0 AS DOUBLE) + list_reduce(list(term ORDER BY lang, source),
          (a, b) -> a + b) AS chi2
      FROM terms GROUP BY band
      ORDER BY band"""),
    covers = Seq("STAT-stratified-chi2"))

  // ------------------------------------------------- top-k stability
  // Would the top-20 token list survive resampling? Compute it
  // independently on each md5-parity half of the corpus and report
  // the overlap — the stability check that separates robust
  // statistics from noise. Set overlap via a join of two bounded
  // top-k lists.
  private val q387 = QueryDef(
    "q387_topk_stability",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("arm",
          (conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast(LongType) % 2).cast(LongType))
      def topk(arm: Int): DataFrame = d.filter(col("arm") === arm)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), asc("term")).limit(20)
        .select(col("term"))
      val a = topk(0)
      val b = topk(1)
      val inter = a.join(b, Seq("term")).count()
      import s.implicits._
      Seq((20L, inter, inter.toDouble / (40 - inter).toDouble))
        .toDF("k", "n_overlap", "jaccard")
    },
    Some("""WITH arm AS (SELECT text,
          CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 2
            AS BIGINT) AS arm
        FROM documents),
      ta AS (SELECT term FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM arm
          WHERE arm = 0)
        GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT 20),
      tb AS (SELECT term FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM arm
          WHERE arm = 1)
        GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT 20),
      i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM ta JOIN tb USING (term))
      SELECT CAST(20 AS BIGINT) AS k, n_overlap,
        CAST(n_overlap AS DOUBLE) / CAST(40 - n_overlap AS DOUBLE)
          AS jaccard
      FROM i"""),
    covers = Seq("STAT-topk-stability"))

  // ------------------------------------------------- Fano factor
  // Poisson sanity check on daily order arrivals per segment: the
  // variance-to-mean ratio (n·Σx² − S²)/(n·S) from exact integer
  // moments — ≈1 for Poisson arrivals, ≫1 for bursty/overdispersed
  // demand (which breaks naive capacity planning).
  private val q391 = QueryDef(
    "q391_fano_factor",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy("segment")
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .select(col("segment"), col("n_days"),
          (col("sx").cast("double") / col("n_days").cast("double"))
            .as("mean_daily"),
          ((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n_days") * col("sx")).cast("double")).as("fano"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c_mktsegment AS segment,
          CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY segment, d),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY segment)
      SELECT segment, n_days,
        CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
        CAST(n_days * sxx - sx * sx AS DOUBLE)
          / CAST(n_days * sx AS DOUBLE) AS fano
      FROM g ORDER BY segment"""),
    covers = Seq("STAT-fano"))

  // ------------------------------------------------- rank divergence
  // Days where order VOLUME and order REVENUE tell different stories:
  // both daily series ranked (unique (value, date) orders), the
  // census of days whose rank difference exceeds a quarter of the
  // calendar — the volume/value decoupling check behind "record
  // traffic, flat revenue" surprises.
  private val q394 = QueryDef(
    "q394_rank_divergence_days",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).as("rev"))
      val wN = Window.orderBy(col("n"), col("d"))
      val wR = Window.orderBy(col("rev"), col("d"))
      val ranked = daily
        .withColumn("rk_n", row_number().over(wN).cast(LongType))
        .withColumn("rk_rev", row_number().over(wR).cast(LongType))
        .withColumn("rk_gap", abs(col("rk_n") - col("rk_rev")))
      val tot = ranked.agg(count(lit(1)).as("nd"))
      ranked.crossJoin(broadcast(tot))
        .agg(first(col("nd")).as("n_days"),
          max(col("rk_gap")).as("max_rank_gap"),
          sum(when(col("rk_gap") * 4 > col("nd"), 1L).otherwise(0L))
            .as("n_divergent"))
        .select(col("n_days"), col("max_rank_gap"), col("n_divergent"),
          (col("n_divergent").cast("double") / col("n_days").cast("double"))
            .as("divergent_rate"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS rev
        FROM orders GROUP BY d),
      r AS (SELECT d,
          CAST(row_number() OVER (ORDER BY n, d) AS BIGINT) AS rk_n,
          CAST(row_number() OVER (ORDER BY rev, d) AS BIGINT) AS rk_rev
        FROM daily),
      g AS (SELECT abs(rk_n - rk_rev) AS rk_gap FROM r),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM g)
      SELECT nd AS n_days, MAX(rk_gap) AS max_rank_gap,
        CAST(SUM(CASE WHEN rk_gap * 4 > nd THEN 1 ELSE 0 END) AS BIGINT)
          AS n_divergent,
        CAST(SUM(CASE WHEN rk_gap * 4 > nd THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(nd AS DOUBLE) AS divergent_rate
      FROM g, tot GROUP BY nd"""),
    covers = Seq("STAT-rank-divergence"))

  // ------------------------------------------------- Mann-Kendall trend
  // Nonparametric monotone-trend test on the daily order-count series:
  // S = Σ_{i<j} sign(c_j − c_i) over day pairs, tie-corrected variance
  // var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, continuity-corrected
  // Z = (S∓1)/√var. Integer arithmetic until the final ratio. The
  // pair join is over DAYS, not rows — the calendar is fixed, so the
  // O(days²) pair count does NOT grow with scale factor; the only
  // scale-dependent stage is the first groupBy.
  private val q399 = QueryDef(
    "q399_mann_kendall",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("c"))
      val a = daily.select(col("d").as("da"), col("c").as("ca"))
      val b = daily.select(col("d").as("db"), col("c").as("cb"))
      val sPairs = a.join(b, col("da") < col("db"))
        .agg(coalesce(sum(signum(col("cb") - col("ca")).cast(LongType)),
          lit(0L)).as("s_stat"))
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("c").agg(count(lit(1)).as("tie"))
        .agg(coalesce(sum(col("tie") * (col("tie") - 1L)
          * (lit(2L) * col("tie") + 5L)), lit(0L)).as("tie_term"))
      sPairs.crossJoin(broadcast(nDays)).crossJoin(broadcast(ties))
        .select(col("n_days"), col("s_stat"),
          ((col("n_days") * (col("n_days") - 1L)
            * (lit(2L) * col("n_days") + 5L) - col("tie_term"))
            .cast("double") / 18.0d).as("var_s"))
        .withColumn("z_stat",
          when(col("var_s") <= 0.0d, 0.0d)
            .when(col("s_stat") > 0L,
              (col("s_stat") - 1L).cast("double") / sqrt(col("var_s")))
            .when(col("s_stat") < 0L,
              (col("s_stat") + 1L).cast("double") / sqrt(col("var_s")))
            .otherwise(0.0d))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY d),
      s AS (SELECT COALESCE(CAST(SUM(CAST(sign(b.c - a.c) AS BIGINT))
            AS BIGINT), 0) AS s_stat
        FROM daily a JOIN daily b ON a.d < b.d),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
      ties AS (SELECT COALESCE(CAST(SUM(tie * (tie - 1) * (2 * tie + 5))
            AS BIGINT), 0) AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tie
              FROM daily GROUP BY c)),
      v AS (SELECT n_days, s_stat,
          CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
            AS DOUBLE) / 18.0 AS var_s
        FROM s, n, ties)
      SELECT n_days, s_stat, var_s,
        CASE WHEN var_s <= 0.0 THEN 0.0
             WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             ELSE 0.0 END AS z_stat
      FROM v"""),
    covers = Seq("STAT-mann-kendall"))

  // ------------------------------------------------- CUPED adjustment
  // Experimentation-platform variance reduction: split the calendar at
  // its midpoint, x = a customer's pre-period spend (cents), y = the
  // post-period spend; per segment, θ = cov(x,y)/var(x) from exact
  // integer sums and the fraction of metric variance CUPED removes
  // (ρ² = corr²). One narrow scan + one per-customer shuffle; the
  // moment sums are mergeable partials, so the plan scales like any
  // grouped aggregate.
  private val q400 = QueryDef(
    "q400_cuped",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      val bounds = o.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(date_add(col("d0"),
          (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
      val perCust = o.crossJoin(broadcast(bounds))
        .groupBy("o_custkey")
        .agg(sum(when(col("d") < col("mid"), col("cents")).otherwise(0L))
          .as("x"),
          sum(when(col("d") >= col("mid"), col("cents")).otherwise(0L))
            .as("y"))
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val g = perCust
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(dec38(col("x")) * dec38(col("y"))).as("sxy"),
          sum(dec38(col("x")) * dec38(col("x"))).as("sxx"),
          sum(dec38(col("y")) * dec38(col("y"))).as("syy"))
      val num = dec38(col("n_cust")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))
      val den1 = dec38(col("n_cust")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
      val den2 = dec38(col("n_cust")) * col("syy") - dec38(col("sy")) * dec38(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .withColumn("corr", col("num").cast("double") /
          (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
        .select(col("segment"), col("n_cust"),
          (col("num").cast("double") / col("den1").cast("double")).as("theta"),
          (col("corr") * col("corr")).as("var_reduction"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      bounds AS (SELECT MIN(d) + CAST(CAST(MAX(d) - MIN(d) AS BIGINT) / 2
          AS INTEGER) AS mid FROM o),
      pc AS (SELECT o_custkey,
          CAST(SUM(CASE WHEN d < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
          CAST(SUM(CASE WHEN d >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
        FROM o, bounds GROUP BY o_custkey),
      g AS (SELECT c_mktsegment AS segment,
          CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
          CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
          CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pc JOIN customer ON o_custkey = c_custkey
        GROUP BY segment),
      f AS (SELECT segment, n_cust,
          CAST(n_cust AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n_cust AS HUGEINT) * sxx - sx * sx AS den1,
          CAST(n_cust AS HUGEINT) * syy - sy * sy AS den2
        FROM g),
      r AS (SELECT segment, n_cust,
          CAST(num AS DOUBLE) / CAST(den1 AS DOUBLE) AS theta,
          CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE))
            * sqrt(CAST(den2 AS DOUBLE))) AS corr
        FROM f WHERE den1 > 0 AND den2 > 0)
      SELECT segment, n_cust, theta, corr * corr AS var_reduction
      FROM r ORDER BY segment"""),
    covers = Seq("STAT-cuped"))

  // ------------------------------------------------- robust shape stats
  // Quantile-based distribution shape per market segment: Bowley
  // skewness (q1,q2,q3) and Moors kurtosis (octiles) of order value —
  // outlier-robust complements to the moment-based q143. All octiles
  // are percentile_disc picks of exact cents (actual data elements,
  // no interpolation), so every ratio is deterministic.
  private val q402 = QueryDef(
    "q402_robust_shape",
    (s, dir) => {
      val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      // all seven octile order statistics share ONE distinct-value
      // rank-select pass (graft.operators.ExactQuantiles, bit-identical
      // to percentile_disc) instead of seven per-group value buffers
      val src = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("cents"))
      val g = graft.operators.ExactQuantiles.disc(
          src, Seq("segment"), "cents",
          Seq(("e1d", 0.125), ("q1d", 0.25), ("e3d", 0.375), ("q2d", 0.5),
            ("e5d", 0.625), ("q3d", 0.75), ("e7d", 0.875)))
        .select(col("segment"), col("__group_n").as("n_orders"),
          col("e1d").cast(LongType).as("e1"), col("q1d").cast(LongType).as("q1"),
          col("e3d").cast(LongType).as("e3"), col("q2d").cast(LongType).as("q2"),
          col("e5d").cast(LongType).as("e5"), col("q3d").cast(LongType).as("q3"),
          col("e7d").cast(LongType).as("e7"))
      g.select(col("segment"), col("n_orders"), col("q1"), col("q2"),
          col("q3"),
          when(col("q3") > col("q1"),
            (col("q3") - lit(2L) * col("q2") + col("q1")).cast("double")
              / (col("q3") - col("q1")).cast("double"))
            .otherwise(0.0d).as("bowley_skew"),
          when(col("e5") =!= col("e3"),
            ((col("e7") - col("e5")) + (col("e3") - col("e1"))).cast("double")
              / (col("e5") - col("e3")).cast("double"))
            .otherwise(0.0d).as("moors_kurtosis"))
        .orderBy("segment")
    },
    Some("""WITH src AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(percentile_disc(0.125) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e1,
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS q1,
          CAST(percentile_disc(0.375) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e3,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS q2,
          CAST(percentile_disc(0.625) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e5,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS q3,
          CAST(percentile_disc(0.875) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e7
        FROM src GROUP BY segment)
      SELECT segment, n_orders, q1, q2, q3,
        CASE WHEN q3 > q1 THEN
          CAST(q3 - 2 * q2 + q1 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
          ELSE 0.0 END AS bowley_skew,
        CASE WHEN e5 <> e3 THEN
          CAST((e7 - e5) + (e3 - e1) AS DOUBLE) / CAST(e5 - e3 AS DOUBLE)
          ELSE 0.0 END AS moors_kurtosis
      FROM g ORDER BY segment"""),
    covers = Seq("STAT-robust-shape"))

  // ------------------------------------------------- Grubbs' statistic
  // Extreme studentized deviate per market segment: G = max|x−x̄|/s
  // over order values — "is the worst order value a statistical
  // outlier". Moments are exact integer sums; the per-row deviation
  // is one correctly-rounded double subtraction and MAX over doubles
  // is associative, so the statistic is partitioning-independent.
  private val q404 = QueryDef(
    "q404_grubbs_outlier",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      val g = o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("sxx"))
        .filter(col("n") >= 3)
        .withColumn("mean_c",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("sd_c",
          sqrt((dec38(col("n")) * col("sxx")
            - dec38(col("sx")) * dec38(col("sx"))).cast("double")
            / (col("n") * (col("n") - 1L)).cast("double")))
      o.join(broadcast(g), Seq("segment"))
        .groupBy("segment")
        .agg(max(col("n")).as("n_orders"),
          max(col("mean_c")).as("mean_cents"),
          max(col("sd_c")).as("sd_cents"),
          max(abs(col("c").cast("double") - col("mean_c"))).as("max_dev"))
        .withColumn("g_stat", col("max_dev") / col("sd_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        FROM o GROUP BY segment HAVING COUNT(*) >= 3),
      m AS (SELECT segment, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE)) AS sd_c
        FROM g)
      SELECT o.segment, MAX(n) AS n_orders, MAX(mean_c) AS mean_cents,
        MAX(sd_c) AS sd_cents,
        MAX(abs(CAST(c AS DOUBLE) - mean_c)) AS max_dev,
        MAX(abs(CAST(c AS DOUBLE) - mean_c)) / MAX(sd_c) AS g_stat
      FROM o JOIN m ON o.segment = m.segment
      GROUP BY o.segment ORDER BY o.segment"""),
    covers = Seq("STAT-grubbs"))

  // ------------------------------------------------- natural breaks
  // Largest-gap 1-D binning (Jenks-style natural breaks without the
  // iterative variance pass): the 4 widest gaps between consecutive
  // DISTINCT order values split the distribution into 5 organic
  // bands. Gaps are exact integer differences with (gap, value) tie
  // order; band assignment is a 4-row broadcast join. The distinct
  // value list is the only single-partition window — bounded by the
  // value-domain size, not the row count.
  private val q406 = QueryDef(
    "q406_natural_breaks",
    (s, dir) => {
      val v = Tables.load(s, dir, "orders").select(cents.as("c")).distinct()
      val gaps = v.withColumn("prev", lag(col("c"), 1).over(Window.orderBy("c")))
        .filter(col("prev").isNotNull)
        .withColumn("gap", col("c") - col("prev"))
      val breaks = gaps
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("gap"), asc("c"))))
        .filter(col("rk") <= 4)
        .select(col("c").as("brk"))
      val perVal = Tables.load(s, dir, "orders").select(cents.as("c"))
        .groupBy("c").agg(count(lit(1)).as("nr"))
      perVal.join(broadcast(breaks), col("brk") <= col("c"), "left")
        .groupBy("c", "nr")
        .agg(count(col("brk")).as("band"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_values"), sum(col("nr")).as("n_orders"),
          min(col("c")).as("lo_cents"), max(col("c")).as("hi_cents"))
        .orderBy("band")
    },
    Some("""WITH v AS (SELECT
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
          CAST(COUNT(*) AS BIGINT) AS nr
        FROM orders GROUP BY 1),
      gaps AS (SELECT c, c - lag(c) OVER (ORDER BY c) AS gap FROM v),
      brk AS (SELECT c AS brk FROM (
          SELECT c, row_number() OVER (ORDER BY gap DESC, c) AS rk
          FROM gaps WHERE gap IS NOT NULL) WHERE rk <= 4),
      banded AS (SELECT v.c, v.nr,
          CAST(COUNT(b.brk) AS BIGINT) AS band
        FROM v LEFT JOIN brk b ON b.brk <= v.c
        GROUP BY v.c, v.nr)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_values,
        CAST(SUM(nr) AS BIGINT) AS n_orders,
        MIN(c) AS lo_cents, MAX(c) AS hi_cents
      FROM banded GROUP BY band ORDER BY band"""),
    covers = Seq("STAT-natural-breaks"))

  // ------------------------------------------------- A/B power analysis
  // Minimum detectable effect per segment for a 50/50 order-value
  // experiment at α=0.05, power 80%: MDE = (z_{α/2}+z_β)·s·√(2/n),
  // the pre-experiment companion to q400 (CUPED) and q346 (SRM).
  // Variance from exact integer moments; the z-constant is a fixed
  // literal on both sides.
  private val q408 = QueryDef(
    "q408_ab_power_mde",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("sxx"))
        .filter(col("n") >= 2)
        .withColumn("mean_cents",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("sd_cents",
          sqrt((dec38(col("n")) * col("sxx")
            - dec38(col("sx")) * dec38(col("sx"))).cast("double")
            / (col("n") * (col("n") - 1L)).cast("double")))
        .withColumn("mde_cents", lit(2.801585d) * col("sd_cents")
          * sqrt(lit(2.0d) / col("n").cast("double")))
        .select(col("segment"), col("n").as("n_orders"),
          col("mean_cents"), col("sd_cents"), col("mde_cents"),
          (col("mde_cents") / col("mean_cents")).as("mde_rel"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        FROM o GROUP BY segment HAVING COUNT(*) >= 2),
      m AS (SELECT segment, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE)) AS sd_cents
        FROM g),
      f AS (SELECT segment, n AS n_orders, mean_cents, sd_cents,
          CAST(2.801585 AS DOUBLE) * sd_cents
            * sqrt(CAST(2.0 AS DOUBLE) / CAST(n AS DOUBLE)) AS mde_cents
        FROM m)
      SELECT segment, n_orders, mean_cents, sd_cents, mde_cents,
        mde_cents / mean_cents AS mde_rel
      FROM f ORDER BY segment"""),
    covers = Seq("STAT-power-mde"))

  // ------------------------------------------------- multi-scale variance
  // Wavelet-flavored energy spectrum of the daily revenue series:
  // bucket days at 7/14/28/56-day scales (complete buckets only) and
  // report each scale's variance of bucket totals — separates
  // short-term noise from long-horizon drift without any transform
  // library. Bucket sums are exact cents; moments close per scale.
  private val q409 = QueryDef(
    "q409_scale_variance",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents).as("y"))
      val b = daily.agg(min(col("d")).as("d0"),
        (datediff(max(col("d")), min(col("d"))) + 1).cast(LongType).as("span"))
      val idx = daily.crossJoin(broadcast(b))
        .select(datediff(col("d"), col("d0")).cast(LongType).as("tt"),
          col("y"), col("span"))
      val scaled = idx.select(explode(expr(
        "transform(array(7L, 14L, 28L, 56L), " +
          "w -> named_struct('scale', w, 'bucket', CAST(tt / w AS BIGINT), " +
          "'nb', CAST(span / w AS BIGINT)))")).as("p"), col("y"))
        .select(col("p.scale"), col("p.bucket"), col("p.nb"), col("y"))
        .filter(col("bucket") < col("nb"))
      val buckets = scaled.groupBy("scale", "bucket")
        .agg(sum(col("y")).as("by"))
      buckets.groupBy("scale")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("by")).as("sx"),
          sum(dec38(col("by")) * dec38(col("by"))).as("sxx"))
        .filter(col("n_buckets") >= 2)
        .select(col("scale"), col("n_buckets"),
          (col("sx").cast("double") / col("n_buckets").cast("double"))
            .as("mean_bucket_cents"),
          ((dec38(col("n_buckets")) * col("sxx")
            - dec38(col("sx")) * dec38(col("sx"))).cast("double")
            / (col("n_buckets") * (col("n_buckets") - 1L)).cast("double"))
            .as("var_bucket"))
        .orderBy("scale")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY d),
      b AS (SELECT MIN(d) AS d0,
          CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS span FROM daily),
      idx AS (SELECT CAST(d - d0 AS BIGINT) AS tt, y, span FROM daily, b),
      scaled AS (SELECT w.scale, tt // w.scale AS bucket, y
        FROM idx, (SELECT CAST(unnest([7, 14, 28, 56]) AS BIGINT) AS scale) w
        WHERE tt // w.scale < span // w.scale),
      buckets AS (SELECT scale, bucket, CAST(SUM(y) AS BIGINT) AS by
        FROM scaled GROUP BY scale, bucket),
      g AS (SELECT scale, CAST(COUNT(*) AS BIGINT) AS n_buckets,
          CAST(SUM(by) AS HUGEINT) AS sx,
          CAST(SUM(CAST(by AS HUGEINT) * by) AS HUGEINT) AS sxx
        FROM buckets GROUP BY scale HAVING COUNT(*) >= 2)
      SELECT scale, n_buckets,
        CAST(sx AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mean_bucket_cents,
        CAST(n_buckets * sxx - sx * sx AS DOUBLE)
          / CAST(n_buckets * (n_buckets - 1) AS DOUBLE) AS var_bucket
      FROM g ORDER BY scale"""),
    covers = Seq("STAT-scale-variance"))

  // ------------------------------------------------- Cohen's d matrix
  // Standardized effect size between every market-segment pair:
  // d = (x̄_a − x̄_b)/s_pooled on order value — the practical-
  // significance companion to q228's Welch t (which only answers "is
  // there an effect", not "how big"). Moments per segment are exact;
  // the 10-pair matrix closes driver-free via a self-join on
  // segment order.
  private val q410 = QueryDef(
    "q410_cohens_d_matrix",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      val g = o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("sxx"))
        .withColumn("mean_c",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("ss", (dec38(col("n")) * col("sxx")
          - dec38(col("sx")) * dec38(col("sx"))).cast("double")
          / col("n").cast("double"))
      val a = g.select(col("segment").as("seg_a"), col("n").as("na"),
        col("mean_c").as("ma"), col("ss").as("ssa"))
      val b = g.select(col("segment").as("seg_b"), col("n").as("nb"),
        col("mean_c").as("mb"), col("ss").as("ssb"))
      a.join(b, col("seg_a") < col("seg_b"))
        .withColumn("pooled_sd", sqrt((col("ssa") + col("ssb"))
          / (col("na") + col("nb") - 2L).cast("double")))
        .select(col("seg_a"), col("seg_b"),
          (col("na") + col("nb")).as("n_total"),
          ((col("ma") - col("mb")) / col("pooled_sd")).as("cohens_d"))
        .orderBy("seg_a", "seg_b")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        FROM o GROUP BY segment),
      m AS (SELECT segment, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
          CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
            / CAST(n AS DOUBLE) AS ss
        FROM g)
      SELECT a.segment AS seg_a, b.segment AS seg_b,
        a.n + b.n AS n_total,
        (a.mean_c - b.mean_c)
          / sqrt((a.ss + b.ss) / CAST(a.n + b.n - 2 AS DOUBLE)) AS cohens_d
      FROM m a JOIN m b ON a.segment < b.segment
      ORDER BY seg_a, seg_b"""),
    covers = Seq("STAT-cohens-d"))

  // ------------------------------------------------- design effect
  // Kish's design effect of value-weighted sampling per ship mode:
  // DEFF = n·Σw²/(Σw)² with w = line quantity — how much effective
  // sample size a quantity-weighted draw loses to weight variance.
  // Pure integer moments, one division.
  private val q411 = QueryDef(
    "q411_design_effect",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast(LongType).as("w"))
      li.groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sww"))
        .select(col("flag"), col("n"),
          (col("sw").cast("double") / col("n").cast("double"))
            .as("mean_weight"),
          ((dec38(col("n")) * dec38(col("sww"))).cast("double")
            / (dec38(col("sw")) * dec38(col("sw"))).cast("double"))
            .as("deff"))
        .withColumn("effective_n",
          col("n").cast("double") / col("deff"))
        .orderBy("flag")
    },
    Some("""WITH g AS (SELECT l_returnflag AS flag,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sw,
          CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
            AS HUGEINT) AS sww
        FROM lineitem GROUP BY l_returnflag)
      SELECT flag, n,
        CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) AS mean_weight,
        CAST(n * sww AS DOUBLE) / CAST(sw * sw AS DOUBLE) AS deff,
        CAST(n AS DOUBLE)
          / (CAST(n * sww AS DOUBLE) / CAST(sw * sw AS DOUBLE))
          AS effective_n
      FROM g ORDER BY flag"""),
    covers = Seq("STAT-design-effect"))

  // ------------------------------------------------- two-proportion z
  // Is a segment's urgent-order share different from the REST of the
  // book? Classic two-proportion z with pooled variance, one row per
  // segment vs its complement. Counts are exact; the z closes in a
  // fixed double expression (sqrt is IEEE-exact).
  private val q414 = QueryDef(
    "q414_two_proportion_z",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderpriority").startsWith("1").cast(LongType).as("urgent"))
      val g = o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("urgent")).as("k"))
      val tot = g.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"))
      g.crossJoin(broadcast(tot))
        .withColumn("p_seg", col("k").cast("double") / col("n").cast("double"))
        .withColumn("p_rest", (col("kk") - col("k")).cast("double")
          / (col("nn") - col("n")).cast("double"))
        .withColumn("p_pool", col("kk").cast("double") / col("nn").cast("double"))
        .withColumn("z_stat", (col("p_seg") - col("p_rest"))
          / sqrt(col("p_pool") * (lit(1.0d) - col("p_pool"))
            * (lit(1.0d) / col("n").cast("double")
              + lit(1.0d) / (col("nn") - col("n")).cast("double"))))
        .select(col("segment"), col("n").as("n_orders"), col("k").as("n_urgent"),
          col("p_seg"), col("p_rest"), col("z_stat"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS urgent
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(urgent) AS BIGINT) AS k
        FROM o GROUP BY segment),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(k) AS BIGINT) AS kk FROM g),
      f AS (SELECT segment, n, k, nn, kk,
          CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_seg,
          CAST(kk - k AS DOUBLE) / CAST(nn - n AS DOUBLE) AS p_rest,
          CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE) AS p_pool
        FROM g, tot)
      SELECT segment, n AS n_orders, k AS n_urgent, p_seg, p_rest,
        (p_seg - p_rest) / sqrt(p_pool * (1.0 - p_pool)
          * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(nn - n AS DOUBLE)))
          AS z_stat
      FROM f ORDER BY segment"""),
    covers = Seq("STAT-two-proportion"))

  // ------------------------------------------------- max influence
  // Leave-one-out sensitivity: how far does each segment's mean move
  // when its single largest order is removed — the influence audit
  // that tells whether q404's outlier actually matters. Everything is
  // a ratio of exact sums; the two means subtract in one fixed
  // expression.
  private val q415 = QueryDef(
    "q415_max_influence",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          max(col("c")).as("max_c"))
        .filter(col("n") >= 2)
        .withColumn("mean_all",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("mean_loo", (col("sx") - col("max_c")).cast("double")
          / (col("n") - 1L).cast("double"))
        .select(col("segment"), col("n").as("n_orders"), col("max_c"),
          col("mean_all"), col("mean_loo"),
          (col("mean_all") - col("mean_loo")).as("influence_cents"),
          ((col("mean_all") - col("mean_loo")) / col("mean_all"))
            .as("influence_rel"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx, MAX(c) AS max_c
        FROM o GROUP BY segment HAVING COUNT(*) >= 2),
      m AS (SELECT segment, n, max_c,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_all,
          CAST(sx - max_c AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mean_loo
        FROM g)
      SELECT segment, n AS n_orders, max_c, mean_all, mean_loo,
        mean_all - mean_loo AS influence_cents,
        (mean_all - mean_loo) / mean_all AS influence_rel
      FROM m ORDER BY segment"""),
    covers = Seq("STAT-influence"))

  // ------------------------------------------------- order-size memory
  // Within-customer serial correlation: does a big order predict the
  // NEXT order's size? Lag-1 (previous, current) value pairs per
  // customer via one partitioned window, pooled Pearson r per segment
  // from exact integer moments — the behavioral-memory statistic.
  private val q416 = QueryDef(
    "q416_order_size_memory",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), cents.as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val g = o.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("prev")).as("sx"), sum(col("c")).as("sy"),
          sum(dec38(col("prev")) * dec38(col("c"))).as("sxy"),
          sum(dec38(col("prev")) * dec38(col("prev"))).as("sxx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("syy"))
      val num = dec38(col("n_pairs")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))
      val den1 = dec38(col("n_pairs")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
      val den2 = dec38(col("n_pairs")) * col("syy") - dec38(col("sy")) * dec38(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("segment"), col("n_pairs"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("lag1_corr"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders),
      l AS (SELECT o_custkey, c,
          lag(c) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS prev
        FROM o),
      p AS (SELECT c_mktsegment AS segment, prev, c
        FROM l JOIN customer ON o_custkey = c_custkey
        WHERE prev IS NOT NULL),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(prev) AS HUGEINT) AS sx, CAST(SUM(c) AS HUGEINT) AS sy,
          CAST(SUM(CAST(prev AS HUGEINT) * c) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(prev AS HUGEINT) * prev) AS HUGEINT) AS sxx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS syy
        FROM p GROUP BY segment),
      f AS (SELECT segment, n_pairs,
          CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS den1,
          CAST(n_pairs AS HUGEINT) * syy - sy * sy AS den2
        FROM g)
      SELECT segment, n_pairs,
        CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE))
          * sqrt(CAST(den2 AS DOUBLE))) AS lag1_corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY segment"""),
    covers = Seq("STAT-serial-corr"))

  // ------------------------------------------------- Kaplan-Meier
  // Customer-lifetime risk table per segment: lifetime = first→last
  // order in 30-day units; "death" = last order before a fixed
  // cutoff, later actives are right-censored. At each event time:
  // n_risk (reverse-cumulative count, exact ints), deaths, censored,
  // and the hazard d/n as one deterministic IEEE division. The
  // survival curve itself needs a running product (ln/exp) — the
  // risk table is the engine-friendly, exactly-gateable half.
  private val q432 = QueryDef(
    "q432_kaplan_meier",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val life = Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
        .join(seg, Seq("o_custkey"))
        .select(col("segment"),
          floor(datediff(col("last_d"), col("first_d")) / lit(30.0))
            .cast(LongType).as("t"),
          (col("last_d") < lit("2001-02-01").cast(DateType)).as("event"))
      val grp = life.groupBy("segment", "t")
        .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
          sum(when(!col("event"), 1L).otherwise(0L)).as("c"))
      val wRisk = Window.partitionBy("segment").orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grp.withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
        .filter(col("d") > 0)
        .select(col("segment"), col("t"), col("n_risk"), col("d"), col("c"),
          (col("d").cast("double") / col("n_risk").cast("double"))
            .as("hazard"))
        .orderBy("segment", "t")
    },
    Some("""WITH life AS (SELECT c.c_mktsegment AS segment,
          CAST(floor(date_diff('day',
              MIN(CAST(o.o_orderdate AS DATE)),
              MAX(CAST(o.o_orderdate AS DATE))) / 30.0) AS BIGINT) AS t,
          (MAX(CAST(o.o_orderdate AS DATE)) < DATE '2001-02-01') AS event
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey, c.c_mktsegment),
      grp AS (SELECT segment, t,
          CAST(COUNT(*) FILTER (WHERE event) AS BIGINT) AS d,
          CAST(COUNT(*) FILTER (WHERE NOT event) AS BIGINT) AS c
        FROM life GROUP BY 1, 2),
      km AS (SELECT segment, t, d, c,
          CAST(SUM(d + c) OVER (PARTITION BY segment ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_risk
        FROM grp)
      SELECT segment, t, n_risk, d, c,
        CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard
      FROM km WHERE d > 0 ORDER BY segment, t"""),
    covers = Seq("STAT-kaplan-meier"))

  // ------------------------------------------------- Palma ratio
  // Spend inequality per segment as the Palma ratio: top-10% customer
  // spend over bottom-40% spend. Decile membership by exact
  // row_number against floor(n/10) / floor(4n/10) cutoffs (ties
  // broken by custkey), sums in exact cents, one final division —
  // the quantile-share inequality family next to the Gini/Lorenz
  // queries, robust to the middle of the distribution.
  private val q433 = QueryDef(
    "q433_palma_ratio",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val cs = Tables.load(s, dir, "orders")
        .groupBy("o_custkey").agg(sum(cents).as("spend"))
        .join(seg, Seq("o_custkey"))
      val w = Window.partitionBy("segment")
        .orderBy(col("spend").desc, col("o_custkey"))
      val sizes = cs.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum("spend").as("total_cents"))
      cs.withColumn("rn", row_number().over(w).cast(LongType))
        .join(broadcast(sizes), Seq("segment"))
        .withColumn("topn", floor(col("n") / lit(10.0)).cast(LongType))
        .withColumn("botn",
          floor(col("n") * lit(4L) / lit(10.0)).cast(LongType))
        .groupBy("segment", "n", "total_cents")
        .agg(sum(when(col("rn") <= col("topn"), col("spend"))).as("top_cents"),
          sum(when(col("rn") > col("n") - col("botn"), col("spend")))
            .as("bottom_cents"))
        .select(col("segment"), col("n").as("n_cust"), col("total_cents"),
          col("top_cents"), col("bottom_cents"),
          (col("top_cents").cast("double") /
            col("bottom_cents").cast("double")).as("palma"))
        .orderBy("segment")
    },
    Some("""WITH cs AS (SELECT o.o_custkey, c.c_mktsegment AS segment,
          CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS spend
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      ranked AS (SELECT segment, spend,
          CAST(row_number() OVER (PARTITION BY segment
            ORDER BY spend DESC, o_custkey) AS BIGINT) AS rn
        FROM cs),
      sizes AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(spend) AS BIGINT) AS total_cents
        FROM cs GROUP BY segment),
      cut AS (SELECT r.segment, r.spend, r.rn, s.n, s.total_cents,
          CAST(floor(s.n / 10.0) AS BIGINT) AS topn,
          CAST(floor(s.n * 4 / 10.0) AS BIGINT) AS botn
        FROM ranked r JOIN sizes s ON s.segment = r.segment)
      SELECT segment, n AS n_cust, total_cents,
        CAST(SUM(spend) FILTER (WHERE rn <= topn) AS BIGINT) AS top_cents,
        CAST(SUM(spend) FILTER (WHERE rn > n - botn) AS BIGINT)
          AS bottom_cents,
        CAST(SUM(spend) FILTER (WHERE rn <= topn) AS DOUBLE) /
          CAST(SUM(spend) FILTER (WHERE rn > n - botn) AS DOUBLE) AS palma
      FROM cut GROUP BY segment, n, total_cents ORDER BY segment"""),
    covers = Seq("STAT-palma-ratio"))

  // ------------------------------------------------- Hurst R/S
  // Rescaled-range statistic of the daily order-arrival series per
  // complete 28-day bucket (zero-filled calendar spine). The usual
  // formulation needs running sums of (x−μ) in floats; here the
  // cumulative deviation is kept as the exact integer
  // 28·prefix_k − k·S1, so R, S, and R/S each reduce to one
  // division / one IEEE sqrt over exact operands. No log-log slope
  // (pow-free) — the per-bucket R/S series IS the long-memory audit.
  private val q435 = QueryDef(
    "q435_hurst_rs",
    (s, dir) => {
      val di = Tables.load(s, dir, "orders")
        .select(datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast(DateType)).cast(LongType).as("di"))
      val daily = di.groupBy("di").agg(count(lit(1)).as("cnt"))
      val spine = di.agg(max("di").as("max_di"))
        .select(explode(sequence(lit(0L), col("max_di"))).as("di"))
      val series = spine.join(daily, Seq("di"), "left")
        .withColumn("x", coalesce(col("cnt"), lit(0L)))
        .withColumn("bucket", floor(col("di") / lit(28.0)).cast(LongType))
        .withColumn("k", col("di") % 28 + 1)
      val wCum = Window.partitionBy("bucket").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("bucket")
      series
        .withColumn("prefix", sum(col("x")).over(wCum))
        .withColumn("s1", sum(col("x")).over(wAll))
        .withColumn("devnum",
          lit(28L) * col("prefix") - col("k") * col("s1"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("nd"), max("s1").as("s1"),
          sum(col("x") * col("x")).as("s2"),
          max("devnum").as("dmax"), min("devnum").as("dmin"))
        .filter(col("nd") === 28)
        .select(col("bucket"), col("s1").as("n_orders"),
          ((col("dmax") - col("dmin")).cast("double") / lit(28.0))
            .as("r_stat"),
          (sqrt((lit(28L) * col("s2") - col("s1") * col("s1"))
            .cast("double")) / lit(28.0)).as("s_stat"))
        .withColumn("rs", when(col("s_stat") === 0.0, lit(null))
          .otherwise(col("r_stat") / col("s_stat")))
        .orderBy("bucket")
    },
    Some("""WITH di AS (SELECT CAST(date_diff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS di FROM orders),
      daily AS (SELECT di, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM di GROUP BY di),
      spine AS (SELECT unnest(range(0, (SELECT MAX(di) + 1 FROM di)))
          AS di),
      series AS (SELECT s.di, COALESCE(d.cnt, 0) AS x,
          CAST(floor(s.di / 28.0) AS BIGINT) AS bucket,
          s.di % 28 + 1 AS k
        FROM spine s LEFT JOIN daily d ON d.di = s.di),
      cum AS (SELECT bucket, k, x,
          CAST(SUM(x) OVER (PARTITION BY bucket ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS prefix,
          CAST(SUM(x) OVER (PARTITION BY bucket) AS BIGINT) AS s1
        FROM series),
      dev AS (SELECT bucket, k, x, s1,
          28 * prefix - k * s1 AS devnum FROM cum),
      agg AS (SELECT bucket, COUNT(*) AS nd, MAX(s1) AS s1,
          CAST(SUM(x * x) AS BIGINT) AS s2,
          MAX(devnum) AS dmax, MIN(devnum) AS dmin
        FROM dev GROUP BY bucket)
      SELECT bucket, CAST(s1 AS BIGINT) AS n_orders,
        CAST(dmax - dmin AS DOUBLE) / 28.0 AS r_stat,
        sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE)) / 28.0 AS s_stat,
        CASE WHEN sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE)) / 28.0 = 0.0
          THEN NULL
          ELSE (CAST(dmax - dmin AS DOUBLE) / 28.0) /
            (sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE)) / 28.0) END AS rs
      FROM agg WHERE nd = 28 ORDER BY bucket"""),
    covers = Seq("STAT-hurst-rs"))

  // ------------------------------------------------- Wasserstein-1D
  // Earth-mover distance between segment order-value distributions
  // in $5,000 buckets: W1 = Σ_k |F_a(k) − F_b(k)| over the dense
  // bucket grid, with each ECDF term kept as the exact integer
  // C_a·n_b − C_b·n_a over the common denominator n_a·n_b — the sum
  // is order-free, the single division deterministic. The
  // distribution-shape companion to the mean/quantile gap queries:
  // how much probability mass must MOVE, and how far.
  private val q437 = QueryDef(
    "q437_wasserstein_1d",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val ov = Tables.load(s, dir, "orders")
        .join(seg, Seq("o_custkey"))
        .select(col("segment"),
          floor(cents / lit(500000.0)).cast(LongType).as("bucket"))
      val counts = ov.groupBy("segment", "bucket").agg(count(lit(1)).as("c"))
      val maxB = ov.agg(max("bucket").as("mb"))
      val grid = maxB
        .select(explode(sequence(lit(0L), col("mb"))).as("bucket"))
        .crossJoin(broadcast(ov.select("segment").distinct()))
        .join(counts, Seq("segment", "bucket"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wCum = Window.partitionBy("segment").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ecdf = grid.withColumn("cum", sum(col("c")).over(wCum))
      val tot = ov.groupBy("segment").agg(count(lit(1)).as("n"))
      val a = ecdf.select(col("segment").as("seg_a"), col("bucket"),
        col("cum").as("cum_a"))
      val b = ecdf.select(col("segment").as("seg_b"), col("bucket"),
        col("cum").as("cum_b"))
      a.join(b, Seq("bucket")).filter(col("seg_a") < col("seg_b"))
        .join(broadcast(tot.select(col("segment").as("seg_a"),
          col("n").as("n_a"))), Seq("seg_a"))
        .join(broadcast(tot.select(col("segment").as("seg_b"),
          col("n").as("n_b"))), Seq("seg_b"))
        .groupBy("seg_a", "seg_b", "n_a", "n_b")
        .agg(sum(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("wnum"))
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          (col("wnum").cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("w1_buckets"))
        .orderBy("seg_a", "seg_b")
    },
    Some("""WITH ov AS (SELECT c.c_mktsegment AS segment,
          CAST(floor(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) / 500000.0) AS BIGINT) AS bucket
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      counts AS (SELECT segment, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM ov GROUP BY 1, 2),
      grid AS (SELECT s.segment, g.bucket, COALESCE(ct.c, 0) AS c
        FROM (SELECT DISTINCT segment FROM ov) s
        CROSS JOIN (SELECT unnest(range(0,
          (SELECT MAX(bucket) + 1 FROM ov))) AS bucket) g
        LEFT JOIN counts ct ON ct.segment = s.segment
          AND ct.bucket = g.bucket),
      ecdf AS (SELECT segment, bucket,
          CAST(SUM(c) OVER (PARTITION BY segment ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM grid),
      tot AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n
        FROM ov GROUP BY 1)
      SELECT a.segment AS seg_a, b.segment AS seg_b,
        ta.n AS n_a, tb.n AS n_b,
        CAST(SUM(ABS(a.cum * tb.n - b.cum * ta.n)) AS DOUBLE) /
          CAST(ta.n * tb.n AS DOUBLE) AS w1_buckets
      FROM ecdf a JOIN ecdf b
        ON a.bucket = b.bucket AND a.segment < b.segment
      JOIN tot ta ON ta.segment = a.segment
      JOIN tot tb ON tb.segment = b.segment
      GROUP BY 1, 2, 3, 4 ORDER BY seg_a, seg_b"""),
    covers = Seq("STAT-wasserstein-1d"))

  // ------------------------------------------------- Brier score
  // Forecast calibration without a model: the train-period urgent
  // rate per segment (orders before 1999) is the "forecast" for the
  // test period; Brier = mean (p̂−y)² folds to the closed form
  // (a²n − 2abk + b²k)/(b²n) over exact counts, so no per-row float
  // sum exists at all. The skill score compares against the global
  // climatology forecast the same way.
  private val q438 = QueryDef(
    "q438_brier_score",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"),
          (col("o_orderpriority") === "1-URGENT").as("y"),
          (to_date(col("o_orderdate")) < lit("1999-01-01").cast(DateType))
            .as("is_train"))
      val train = o.filter(col("is_train")).groupBy("segment")
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("b"))
      val glob = o.filter(col("is_train"))
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("a0"),
          count(lit(1)).as("b0"))
      val test = o.filter(!col("is_train")).groupBy("segment")
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("k"),
          count(lit(1)).as("n"))
      test.join(broadcast(train), Seq("segment"))
        .crossJoin(broadcast(glob))
        .select(col("segment"), col("n"), col("k"),
          (col("a").cast("double") / col("b").cast("double")).as("p_hat"),
          (col("k").cast("double") / col("n").cast("double")).as("rate"),
          ((col("a") * col("a") * col("n")
            - lit(2L) * col("a") * col("b") * col("k")
            + col("b") * col("b") * col("k")).cast("double") /
            (col("b") * col("b") * col("n")).cast("double")).as("brier"),
          ((col("a0") * col("a0") * col("n")
            - lit(2L) * col("a0") * col("b0") * col("k")
            + col("b0") * col("b0") * col("k")).cast("double") /
            (col("b0") * col("b0") * col("n")).cast("double"))
            .as("brier_clim"))
        .withColumn("skill",
          lit(1.0) - col("brier") / col("brier_clim"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          (o.o_orderpriority = '1-URGENT') AS y,
          (CAST(o.o_orderdate AS DATE) < DATE '1999-01-01') AS is_train
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      train AS (SELECT segment,
          CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS a,
          CAST(COUNT(*) AS BIGINT) AS b
        FROM o WHERE is_train GROUP BY 1),
      gl AS (SELECT CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS a0,
          CAST(COUNT(*) AS BIGINT) AS b0
        FROM o WHERE is_train),
      test AS (SELECT segment,
          CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS k,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM o WHERE NOT is_train GROUP BY 1)
      SELECT t.segment, t.n, t.k,
        CAST(tr.a AS DOUBLE) / CAST(tr.b AS DOUBLE) AS p_hat,
        CAST(t.k AS DOUBLE) / CAST(t.n AS DOUBLE) AS rate,
        CAST(tr.a * tr.a * t.n - 2 * tr.a * tr.b * t.k
            + tr.b * tr.b * t.k AS DOUBLE) /
          CAST(tr.b * tr.b * t.n AS DOUBLE) AS brier,
        CAST(g.a0 * g.a0 * t.n - 2 * g.a0 * g.b0 * t.k
            + g.b0 * g.b0 * t.k AS DOUBLE) /
          CAST(g.b0 * g.b0 * t.n AS DOUBLE) AS brier_clim,
        1.0 - (CAST(tr.a * tr.a * t.n - 2 * tr.a * tr.b * t.k
            + tr.b * tr.b * t.k AS DOUBLE) /
          CAST(tr.b * tr.b * t.n AS DOUBLE)) /
          (CAST(g.a0 * g.a0 * t.n - 2 * g.a0 * g.b0 * t.k
            + g.b0 * g.b0 * t.k AS DOUBLE) /
          CAST(g.b0 * g.b0 * t.n AS DOUBLE)) AS skill
      FROM test t JOIN train tr ON tr.segment = t.segment
      CROSS JOIN gl g ORDER BY t.segment"""),
    covers = Seq("STAT-brier-score"))

  // ------------------------------------------------- Wilcoxon
  // Signed-rank test on paired first-vs-second order value per
  // customer: did the second purchase get bigger? Midranks are kept
  // exact by working in doubled units (2·midrank = 2·rank + ties −
  // 1, an integer), the tie-corrected variance is one exact integer
  // bilinear, and z is a single division over an IEEE sqrt.
  private val q439 = QueryDef(
    "q439_wilcoxon_signed_rank",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val wOrd = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val firstTwo = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          cents.as("v"),
          row_number().over(wOrd).as("rn"))
        .filter(col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(max(when(col("rn") === 1, col("v"))).as("v1"),
          max(when(col("rn") === 2, col("v"))).as("v2"))
        .filter(col("v2").isNotNull)
        .join(seg, Seq("o_custkey"))
        .select(col("segment"), (col("v2") - col("v1")).as("d"))
        .filter(col("d") =!= 0)
        .withColumn("absd", abs(col("d")))
      val wRank = Window.partitionBy("segment").orderBy("absd")
      val wTie = Window.partitionBy("segment", "absd")
      val ranked = firstTwo
        .withColumn("rnk", rank().over(wRank).cast(LongType))
        .withColumn("tcnt", count(lit(1)).over(wTie))
        .withColumn("r2", lit(2L) * col("rnk") + col("tcnt") - 1L)
      val ties = firstTwo.groupBy("segment", "absd")
        .agg(count(lit(1)).as("tc"))
        .groupBy("segment")
        .agg(sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tt"))
      ranked.groupBy("segment")
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2_plus"))
        .join(broadcast(ties), Seq("segment"))
        .select(col("segment"), col("n"), col("w2_plus"), col("tt"),
          ((col("w2_plus") - expr("n * (n + 1) DIV 2")).cast("double") /
            sqrt((lit(2L) * col("n") * (col("n") + 1L) *
              (lit(2L) * col("n") + 1L) - col("tt")).cast("double") /
              lit(12.0))).as("z"))
        .orderBy("segment")
    },
    Some("""WITH ft AS (SELECT o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders),
      pairs AS (SELECT f.o_custkey,
          MAX(CASE WHEN rn = 1 THEN v END) AS v1,
          MAX(CASE WHEN rn = 2 THEN v END) AS v2
        FROM ft f WHERE rn <= 2 GROUP BY 1),
      d AS (SELECT c.c_mktsegment AS segment,
          p.v2 - p.v1 AS d, ABS(p.v2 - p.v1) AS absd
        FROM pairs p JOIN customer c ON c.c_custkey = p.o_custkey
        WHERE p.v2 IS NOT NULL AND p.v2 - p.v1 <> 0),
      ranked AS (SELECT segment, d, absd,
          CAST(rank() OVER (PARTITION BY segment ORDER BY absd)
            AS BIGINT) AS rnk,
          CAST(COUNT(*) OVER (PARTITION BY segment, absd)
            AS BIGINT) AS tcnt
        FROM d),
      ties AS (SELECT segment,
          CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tt
        FROM (SELECT segment, absd, CAST(COUNT(*) AS BIGINT) AS tc
          FROM d GROUP BY 1, 2) GROUP BY segment),
      agg AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN d > 0 THEN 2 * rnk + tcnt - 1
            ELSE 0 END) AS BIGINT) AS w2_plus
        FROM ranked GROUP BY segment)
      SELECT a.segment, a.n, a.w2_plus, t.tt,
        CAST(a.w2_plus - a.n * (a.n + 1) // 2 AS DOUBLE) /
          sqrt(CAST(2 * a.n * (a.n + 1) * (2 * a.n + 1) - t.tt
            AS DOUBLE) / 12.0) AS z
      FROM agg a JOIN ties t ON t.segment = a.segment
      ORDER BY a.segment"""),
    covers = Seq("STAT-wilcoxon-signed-rank"))

  // ------------------------------------------------- McNemar
  // Paired binary flip test: is a customer's LAST order more likely
  // urgent than their FIRST? Only the discordant cells matter —
  // χ² = (b−c)²/(b+c), plus the Edwards continuity-corrected
  // variant — each one exact-integer division.
  private val q440 = QueryDef(
    "q440_mcnemar",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val wAsc = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wDesc = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val fl = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_orderpriority") === "1-URGENT").as("y"),
          row_number().over(wAsc).as("ra"),
          row_number().over(wDesc).as("rd"))
        .filter(col("ra") === 1 || col("rd") === 1)
        .groupBy("o_custkey")
        .agg(max(when(col("ra") === 1, col("y"))).as("y_first"),
          max(when(col("rd") === 1, col("y"))).as("y_last"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") === 2)
        .join(seg, Seq("o_custkey"))
      fl.groupBy("segment")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("y_first") && !col("y_last"), 1L).otherwise(0L))
            .as("b"),
          sum(when(!col("y_first") && col("y_last"), 1L).otherwise(0L))
            .as("c"))
        .select(col("segment"), col("n_pairs"), col("b"), col("c"),
          (((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
            (col("b") + col("c")).cast("double")).as("chi2"),
          (((abs(col("b") - col("c")) - 1L) *
            (abs(col("b") - col("c")) - 1L)).cast("double") /
            (col("b") + col("c")).cast("double")).as("chi2_cc"))
        .orderBy("segment")
    },
    Some("""WITH fo AS (SELECT o_custkey,
          (o_orderpriority = '1-URGENT') AS y,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS ra,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
        FROM orders),
      fl AS (SELECT o_custkey,
          MAX(CASE WHEN ra = 1 THEN y END) AS y_first,
          MAX(CASE WHEN rd = 1 THEN y END) AS y_last,
          COUNT(*) AS cnt
        FROM fo WHERE ra = 1 OR rd = 1 GROUP BY 1),
      d AS (SELECT c.c_mktsegment AS segment, f.y_first, f.y_last
        FROM fl f JOIN customer c ON c.c_custkey = f.o_custkey
        WHERE f.cnt = 2),
      agg AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(COUNT(*) FILTER (WHERE y_first AND NOT y_last)
            AS BIGINT) AS b,
          CAST(COUNT(*) FILTER (WHERE NOT y_first AND y_last)
            AS BIGINT) AS c
        FROM d GROUP BY segment)
      SELECT segment, n_pairs, b, c,
        CAST((b - c) * (b - c) AS DOUBLE) /
          CAST(b + c AS DOUBLE) AS chi2,
        CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) AS DOUBLE) /
          CAST(b + c AS DOUBLE) AS chi2_cc
      FROM agg ORDER BY segment"""),
    covers = Seq("STAT-mcnemar"))

  // ------------------------------------------------- repurchase gaps
  // Purchase-rhythm quantiles: days between consecutive orders per
  // customer, P25/P50/P75/P90 per segment by percentile_disc — exact
  // integer order-statistic picks, no interpolation to diverge on.
  // The replenishment-cycle profile behind inventory planning.
  private val q445 = QueryDef(
    "q445_repurchase_quantiles",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), to_date(col("prev")))
            .cast(LongType).as("gap"))
        .join(seg, Seq("o_custkey"))
      gaps.groupBy("segment")
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p75"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p90"))
        .orderBy("segment")
    },
    Some("""WITH gaps AS (SELECT o_custkey,
          CAST(date_diff('day',
            lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey),
            CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
        FROM orders),
      g AS (SELECT c.c_mktsegment AS segment, gaps.gap
        FROM gaps JOIN customer c ON c.c_custkey = gaps.o_custkey
        WHERE gaps.gap IS NOT NULL)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p25,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p50,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p75,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p90
      FROM g GROUP BY segment ORDER BY segment"""),
    covers = Seq("STAT-repurchase-quantiles"))

  // ------------------------------------------------- gains table
  // Decile gains chart: rank customers by 1995–97 spend (the
  // "score"), report each decile's share of 1998+ spend (the
  // "response") plus cumulative capture — the model-eval table that
  // turns q420's correlation into business language. Deciles by
  // ntile over a unique total order; shares are exact-cents
  // divisions.
  private val q446 = QueryDef(
    "q446_gains_table",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("cents"),
          year(to_date(col("o_orderdate"))).as("yr"))
      val cust = o.groupBy("o_custkey")
        .agg(sum(when(col("yr") <= 1997, col("cents")).otherwise(0L))
          .as("score"),
          sum(when(col("yr") >= 1998, col("cents")).otherwise(0L))
            .as("future"))
      val w = Window.orderBy(col("score").desc, col("o_custkey"))
      val dec = cust.withColumn("decile", ntile(10).over(w).cast(LongType))
      val tot = dec.agg(sum("future").as("tf"))
      val byDec = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("score").as("score_cents"),
          sum("future").as("future_cents"))
      val wc = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec.crossJoin(broadcast(tot))
        .withColumn("cum_future", sum(col("future_cents")).over(wc))
        .select(col("decile"), col("n_cust"), col("score_cents"),
          col("future_cents"),
          (col("future_cents").cast("double") / col("tf").cast("double"))
            .as("capture"),
          (col("cum_future").cast("double") / col("tf").cast("double"))
            .as("cum_capture"))
        .orderBy("decile")
    },
    Some("""WITH o AS (SELECT o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS cents,
          year(CAST(o_orderdate AS DATE)) AS yr
        FROM orders),
      cust AS (SELECT o_custkey,
          CAST(SUM(CASE WHEN yr <= 1997 THEN cents ELSE 0 END)
            AS BIGINT) AS score,
          CAST(SUM(CASE WHEN yr >= 1998 THEN cents ELSE 0 END)
            AS BIGINT) AS future
        FROM o GROUP BY 1),
      dec AS (SELECT score, future,
          CAST(ntile(10) OVER (ORDER BY score DESC, o_custkey)
            AS BIGINT) AS decile
        FROM cust),
      by_dec AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(score) AS BIGINT) AS score_cents,
          CAST(SUM(future) AS BIGINT) AS future_cents
        FROM dec GROUP BY decile),
      tot AS (SELECT CAST(SUM(future) AS BIGINT) AS tf FROM dec)
      SELECT d.decile, d.n_cust, d.score_cents, d.future_cents,
        CAST(d.future_cents AS DOUBLE) / CAST(t.tf AS DOUBLE) AS capture,
        CAST(SUM(d.future_cents) OVER (ORDER BY d.decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
          CAST(t.tf AS DOUBLE) AS cum_capture
      FROM by_dec d CROSS JOIN tot t ORDER BY d.decile"""),
    covers = Seq("STAT-gains-table"))

  // ------------------------------------------------- Goodman-Kruskal λ
  // Modal association between segment and order priority, both
  // directions: how much does knowing one reduce the error of
  // guessing the other's mode? λ = (Σ conditional modes − marginal
  // mode)/(n − marginal mode) — pure counts, two divisions, no
  // distributional assumptions (the log-free cousin of mutual
  // information). Contingency cells are |segments|×|priorities|.
  private val q449 = QueryDef(
    "q449_goodman_kruskal_lambda",
    (s, dir) => {
      val ct = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), Seq("o_custkey"))
        .groupBy(col("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("c"))
      val rowMax = ct.groupBy("seg").agg(max("c").as("m"))
        .agg(sum("m").as("sum_rowmax"))
      val colMax = ct.groupBy("pri").agg(max("c").as("m"))
        .agg(sum("m").as("sum_colmax"))
      val rowTotMax = ct.groupBy("seg").agg(sum("c").as("rt"))
        .agg(max("rt").as("max_rowtot"))
      val colTotMax = ct.groupBy("pri").agg(sum("c").as("pt"))
        .agg(max("pt").as("max_coltot"))
      val n = ct.agg(sum("c").as("n"))
      n.crossJoin(broadcast(rowMax)).crossJoin(broadcast(colMax))
        .crossJoin(broadcast(rowTotMax)).crossJoin(broadcast(colTotMax))
        .select(col("n"), col("sum_rowmax"), col("max_coltot"),
          ((col("sum_rowmax") - col("max_coltot")).cast("double") /
            (col("n") - col("max_coltot")).cast("double"))
            .as("lambda_pri_given_seg"),
          col("sum_colmax"), col("max_rowtot"),
          ((col("sum_colmax") - col("max_rowtot")).cast("double") /
            (col("n") - col("max_rowtot")).cast("double"))
            .as("lambda_seg_given_pri"))
    },
    Some("""WITH ct AS (SELECT c.c_mktsegment AS seg,
          o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      rm AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_rowmax FROM
        (SELECT seg, MAX(c) AS m FROM ct GROUP BY seg)),
      cm AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_colmax FROM
        (SELECT pri, MAX(c) AS m FROM ct GROUP BY pri)),
      rt AS (SELECT CAST(MAX(s) AS BIGINT) AS max_rowtot FROM
        (SELECT seg, SUM(c) AS s FROM ct GROUP BY seg)),
      pt AS (SELECT CAST(MAX(s) AS BIGINT) AS max_coltot FROM
        (SELECT pri, SUM(c) AS s FROM ct GROUP BY pri)),
      nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct)
      SELECT nn.n, rm.sum_rowmax, pt.max_coltot,
        CAST(rm.sum_rowmax - pt.max_coltot AS DOUBLE) /
          CAST(nn.n - pt.max_coltot AS DOUBLE) AS lambda_pri_given_seg,
        cm.sum_colmax, rt.max_rowtot,
        CAST(cm.sum_colmax - rt.max_rowtot AS DOUBLE) /
          CAST(nn.n - rt.max_rowtot AS DOUBLE) AS lambda_seg_given_pri
      FROM nn, rm, cm, rt, pt"""),
    covers = Seq("STAT-goodman-kruskal-lambda"))

  // ------------------------------------------------- tail dependence
  // Do busy days and high-revenue days coincide in the extreme tail?
  // Upper-tail dependence of the (daily orders, daily revenue) pair:
  // exceedance of both P90 thresholds (percentile_disc — exact
  // integer picks), conditional probability and lift as the only
  // divisions. The copula-corner diagnostic that a correlation
  // coefficient averages away.
  private val q450 = QueryDef(
    "q450_tail_dependence",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType)).as("rev"))
      val cuts = daily.agg(
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cnt)")
          .cast(LongType).as("cnt_p90"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY rev)")
          .cast(LongType).as("rev_p90"))
      daily.crossJoin(broadcast(cuts))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("cnt") >= col("cnt_p90"), 1L).otherwise(0L))
            .as("n_cnt_hi"),
          sum(when(col("rev") >= col("rev_p90"), 1L).otherwise(0L))
            .as("n_rev_hi"),
          sum(when(col("cnt") >= col("cnt_p90") &&
            col("rev") >= col("rev_p90"), 1L).otherwise(0L)).as("n_both"))
        .select(col("n_days"), col("n_cnt_hi"), col("n_rev_hi"),
          col("n_both"),
          (col("n_both").cast("double") / col("n_cnt_hi").cast("double"))
            .as("cond_prob"),
          ((col("n_both") * col("n_days")).cast("double") /
            (col("n_cnt_hi") * col("n_rev_hi")).cast("double")).as("lift"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      cuts AS (SELECT
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS cnt_p90,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY rev)
            AS BIGINT) AS rev_p90
        FROM daily)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90) AS BIGINT)
          AS n_cnt_hi,
        CAST(COUNT(*) FILTER (WHERE rev >= rev_p90) AS BIGINT)
          AS n_rev_hi,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90 AND rev >= rev_p90)
          AS BIGINT) AS n_both,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90 AND rev >= rev_p90)
          AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90) AS DOUBLE)
          AS cond_prob,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90 AND rev >= rev_p90)
            * COUNT(*) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90)
            * COUNT(*) FILTER (WHERE rev >= rev_p90) AS DOUBLE) AS lift
      FROM daily CROSS JOIN cuts"""),
    covers = Seq("STAT-tail-dependence"))

  // ------------------------------------------------- record days
  // Record-breaking revenue days per segment: a day is a record when
  // it strictly exceeds every earlier day's revenue. Exact cents
  // against a shifted running max — the "all-time high" census whose
  // expected count grows only logarithmically for exchangeable
  // series, so an excess is itself a trend signal.
  private val q453 = QueryDef(
    "q453_record_days",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val daily = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .groupBy(col("segment"), to_date(col("o_orderdate")).as("day"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType)).as("rev"))
      val w = Window.partitionBy("segment").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      daily.withColumn("prevmax", max("rev").over(w))
        .withColumn("is_record",
          col("prevmax").isNull || col("rev") > col("prevmax"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("is_record"), 1L).otherwise(0L)).as("n_records"),
          max(when(col("is_record"), col("day"))).as("last_record_day"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c.c_mktsegment AS segment,
          CAST(o.o_orderdate AS DATE) AS day,
          CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      r AS (SELECT segment, day, rev,
          MAX(rev) OVER (PARTITION BY segment ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prevmax
        FROM daily)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(COUNT(*) FILTER (WHERE prevmax IS NULL OR rev > prevmax)
          AS BIGINT) AS n_records,
        MAX(day) FILTER (WHERE prevmax IS NULL OR rev > prevmax)
          AS last_record_day
      FROM r GROUP BY segment ORDER BY segment"""),
    covers = Seq("STAT-record-days"))

  // ------------------------------------------------- Lorenz asymmetry
  // Is inequality driven by a few giants or many minnows? The Lorenz
  // asymmetry coefficient S = F(μ) + L(μ): the population share
  // below the mean plus their spend share. Membership is decided by
  // the exact integer comparison n·x < Σx (never a float mean), the
  // two shares are single divisions; S < 1 means inequality comes
  // from the small end, S > 1 from the giants.
  private val q454 = QueryDef(
    "q454_lorenz_asymmetry",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val spend = Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType)).as("x"))
        .join(seg, Seq("o_custkey"))
      val tot = spend.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      spend.join(broadcast(tot), Seq("segment"))
        .withColumn("below", col("n") * col("x") < col("sx"))
        .groupBy("segment", "n", "sx")
        .agg(sum(when(col("below"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("below"), col("x")).otherwise(0L)).as("sx_below"))
        .select(col("segment"), col("n").as("n_cust"), col("n_below"),
          (col("n_below").cast("double") / col("n").cast("double"))
            .as("f_mu"),
          (col("sx_below").cast("double") / col("sx").cast("double"))
            .as("l_mu"),
          (col("n_below").cast("double") / col("n").cast("double") +
            col("sx_below").cast("double") / col("sx").cast("double"))
            .as("asymmetry"))
        .orderBy("segment")
    },
    Some("""WITH spend AS (SELECT o.o_custkey,
          c.c_mktsegment AS segment,
          CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      tot AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx
        FROM spend GROUP BY segment)
      SELECT s.segment, t.n AS n_cust,
        CAST(COUNT(*) FILTER (WHERE t.n * s.x < t.sx) AS BIGINT)
          AS n_below,
        CAST(COUNT(*) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.n AS DOUBLE) AS f_mu,
        CAST(SUM(s.x) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.sx AS DOUBLE) AS l_mu,
        CAST(COUNT(*) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.n AS DOUBLE) +
        CAST(SUM(s.x) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.sx AS DOUBLE) AS asymmetry
      FROM spend s JOIN tot t ON t.segment = s.segment
      GROUP BY s.segment, t.n, t.sx ORDER BY s.segment"""),
    covers = Seq("STAT-lorenz-asymmetry"))

  // ------------------------------------------------- price CQV
  // Quartile coefficient of dispersion of catalog prices per brand:
  // (Q3−Q1)/(Q3+Q1) from percentile_disc integer picks — the
  // outlier-robust relative spread that survives the heavy tail a
  // CV would chase. One division per brand.
  private val q455 = QueryDef(
    "q455_price_cqv",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_brand"),
          (col("p_retailprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("cents"))
      p.groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
            .cast(LongType).as("q1"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast(LongType).as("med"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
            .cast(LongType).as("q3"))
        .select(col("p_brand"), col("n_parts"), col("q1"), col("med"),
          col("q3"),
          ((col("q3") - col("q1")).cast("double") /
            (col("q3") + col("q1")).cast("double")).as("cqv"))
        .orderBy("p_brand")
    },
    Some("""WITH p AS (SELECT p_brand,
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS cents
        FROM part)
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
          AS BIGINT) AS q1,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
          AS BIGINT) AS med,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
          AS BIGINT) AS q3,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) -
          percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
          AS DOUBLE) /
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) +
          percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
          AS DOUBLE) AS cqv
      FROM p GROUP BY p_brand ORDER BY p_brand"""),
    covers = Seq("STAT-price-cqv"))

  // ------------------------------------------------- diff-in-diff
  // Canonical 2×2 DiD: BUILDING customers (treated) vs the rest,
  // 1996–97 pre vs 1998–99 post, outcome = mean order value. Four
  // exact-ratio cell means, one subtraction tree — the
  // parallel-trends workhorse. The pre-period gap rides along as
  // the trend diagnostic.
  private val q502 = QueryDef(
    "q502_diff_in_diff",
    (s, dir) => {
      val o = segJoin(s, dir)
        .select((col("segment") === "BUILDING").as("treated"),
          cents.as("y"), year(to_date(col("o_orderdate"))).as("yr"))
        .filter(col("yr") >= 1996 && col("yr") <= 1999)
        .withColumn("post", col("yr") >= 1998)
      val cells = o.groupBy("treated", "post")
        .agg(sum("y").as("sy"), count(lit(1)).as("n"))
        .withColumn("mu",
          col("sy").cast("double") / col("n").cast("double"))
      val wide = cells.agg(
        max(when(col("treated") && col("post"), col("mu"))).as("t_post"),
        max(when(col("treated") && !col("post"), col("mu"))).as("t_pre"),
        max(when(!col("treated") && col("post"), col("mu"))).as("c_post"),
        max(when(!col("treated") && !col("post"), col("mu"))).as("c_pre"))
      wide.select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_cents"),
        (col("t_pre") - col("c_pre")).as("pre_gap_cents"))
    },
    Some("""WITH o AS (SELECT
          (c.c_mktsegment = 'BUILDING') AS treated,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          (year(CAST(o.o_orderdate AS DATE)) >= 1998) AS post
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE year(CAST(o.o_orderdate AS DATE)) BETWEEN 1996 AND 1999),
      cells AS (SELECT treated, post,
          CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        FROM o GROUP BY 1, 2),
      wide AS (SELECT
          MAX(CASE WHEN treated AND post THEN mu END) AS t_post,
          MAX(CASE WHEN treated AND NOT post THEN mu END) AS t_pre,
          MAX(CASE WHEN NOT treated AND post THEN mu END) AS c_post,
          MAX(CASE WHEN NOT treated AND NOT post THEN mu END) AS c_pre
        FROM cells)
      SELECT t_pre, t_post, c_pre, c_post,
        (t_post - t_pre) - (c_post - c_pre) AS did_cents,
        t_pre - c_pre AS pre_gap_cents
      FROM wide"""),
    covers = Seq("CAUSAL-did"))

  // ------------------------------------------------- stratified ATE
  // Stratified treatment-effect estimate: urgent-priority orders
  // (treated) vs others within each segment stratum, pooled with
  // stratum-share weights. Per-stratum effects are exact-ratio
  // differences; the pooled ATE folds Σ w_h·Δ_h in segment order —
  // the Neyman-stratified estimator that a raw mean-difference
  // confounds.
  private val q503 = QueryDef(
    "q503_stratified_ate",
    (s, dir) => {
      val o = segJoin(s, dir)
        .select(col("segment"),
          (col("o_orderpriority") === "1-URGENT").as("tr"), cents.as("y"))
      val strata = o.groupBy("segment")
        .agg(count(lit(1)).as("n_h"),
          sum(when(col("tr"), col("y"))).as("s1"),
          sum(when(col("tr"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("tr"), col("y"))).as("s0"),
          sum(when(!col("tr"), 1L).otherwise(0L)).as("n0"))
        .withColumn("effect",
          col("s1").cast("double") / col("n1").cast("double") -
            col("s0").cast("double") / col("n0").cast("double"))
        .localCheckpoint()
      val pooled = strata
        .agg(sum("n_h").as("n"),
          sort_array(collect_list(struct(col("segment"), col("n_h"),
            col("effect")))).as("sl"))
        .withColumn("wsum",
          aggregate(col("sl"), lit(0.0), (a, e) =>
            a + e.getField("n_h").cast("double") * e.getField("effect")))
        .select((col("wsum") / col("n").cast("double")).as("ate"))
      strata.crossJoin(broadcast(pooled))
        .select(col("segment"), col("n_h"), col("n1"), col("n0"),
          col("effect").as("effect_cents"), col("ate").as("ate_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          (o.o_orderpriority = '1-URGENT') AS tr,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      strata AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_h,
          CAST(SUM(CASE WHEN tr THEN y END) AS BIGINT) AS s1,
          CAST(COUNT(*) FILTER (WHERE tr) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN NOT tr THEN y END) AS BIGINT) AS s0,
          CAST(COUNT(*) FILTER (WHERE NOT tr) AS BIGINT) AS n0
        FROM o GROUP BY 1),
      eff AS (SELECT *,
          CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
            CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS effect
        FROM strata),
      pooled AS (SELECT
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(n_h AS DOUBLE) * effect ORDER BY segment)),
            (a, b) -> a + b) /
            CAST(SUM(n_h) AS DOUBLE) AS ate
        FROM eff)
      SELECT e.segment, e.n_h, e.n1, e.n0,
        e.effect AS effect_cents, p.ate AS ate_cents
      FROM eff e CROSS JOIN pooled p ORDER BY e.segment"""),
    covers = Seq("CAUSAL-stratified-ate"))

  // ------------------------------------------------- RDD (sharp)
  // Local-linear regression discontinuity at the $15,000 order-value
  // threshold, outcome = line count per order, bandwidth $2,000:
  // each side fits y = α + βx (x centered at the cutoff) by exact
  // 2×2 Cramer — α̂ = (Σy·Σx² − Σx·Σxy)/(nΣx² − (Σx)²), one double
  // division per side — and the RD estimate is α̂₊ − α̂₋. The naive
  // mean jump rides along to show the slope-bias it hides.
  private val q505 = QueryDef(
    "q505_regression_discontinuity",
    (s, dir) => {
      val thr = 1500000L
      val hbw = 200000L
      val lines = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("y"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), cents.as("v"))
        .join(lines, Seq("o_orderkey"))
        .withColumn("x", col("v") - thr)
        .filter(col("x") >= -hbw && col("x") < hbw)
        .withColumn("right", col("x") >= 0L)
      def d38(c: Column): Column = c.cast(DecimalType(38, 0))
      val sides = o.groupBy("right")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"),
          sum("y").as("sy"),
          sum(d38(col("x")) * d38(col("y"))).as("sxy"))
        .withColumn("alpha",
          (d38(col("sy")) * col("sxx") - d38(col("sx")) * col("sxy"))
            .cast("double") /
          (d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
            .cast("double"))
        .withColumn("mu", col("sy").cast("double") / col("n").cast("double"))
      val wide = sides.agg(
        max(when(col("right"), col("alpha"))).as("a_right"),
        max(when(!col("right"), col("alpha"))).as("a_left"),
        max(when(col("right"), col("mu"))).as("mu_right"),
        max(when(!col("right"), col("mu"))).as("mu_left"),
        max(when(col("right"), col("n"))).as("n_right"),
        max(when(!col("right"), col("n"))).as("n_left"))
      wide.select(col("n_left"), col("n_right"),
        (col("mu_right") - col("mu_left")).as("naive_jump"),
        (col("a_right") - col("a_left")).as("rd_estimate"))
    },
    Some("""WITH lines AS (SELECT l_orderkey AS o_orderkey,
          CAST(COUNT(*) AS BIGINT) AS y
        FROM lineitem GROUP BY 1),
      o AS (SELECT
          CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            - 1500000 AS x,
          l.y
        FROM orders od JOIN lines l ON l.o_orderkey = od.o_orderkey
        WHERE CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) - 1500000 >= -200000
          AND CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) - 1500000 < 200000),
      sides AS (SELECT (x >= 0) AS right_side,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          CAST(SUM(y) AS BIGINT) AS sy,
          SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM o GROUP BY 1),
      fit AS (SELECT right_side, n, sy,
          CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy
            AS DOUBLE) /
          CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
            AS DOUBLE) AS alpha,
          CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu
        FROM sides)
      SELECT
        MAX(CASE WHEN NOT right_side THEN n END) AS n_left,
        MAX(CASE WHEN right_side THEN n END) AS n_right,
        MAX(CASE WHEN right_side THEN mu END) -
          MAX(CASE WHEN NOT right_side THEN mu END) AS naive_jump,
        MAX(CASE WHEN right_side THEN alpha END) -
          MAX(CASE WHEN NOT right_side THEN alpha END) AS rd_estimate
      FROM fit"""),
    covers = Seq("CAUSAL-rdd"))

  // ------------------------------------------------- event study
  // Dynamic DiD: the treated-minus-control gap per quarter around
  // the 1998Q1 event, re-based to 1997Q4 — the coefficient series
  // whose flat pre-period IS the parallel-trends test. Quarterly
  // cell means are exact ratios; each coefficient is a fixed
  // four-term tree.
  private val q506 = QueryDef(
    "q506_event_study",
    (s, dir) => {
      val o = segJoin(s, dir)
        .select((col("segment") === "BUILDING").as("treated"),
          cents.as("y"),
          (year(to_date(col("o_orderdate"))) * 4 +
            quarter(to_date(col("o_orderdate"))) - 1).cast(LongType)
            .as("q"))
        .filter(col("q") >= 1997L * 4 && col("q") <= 1999L * 4 + 3)
      val cells = o.groupBy("q", "treated")
        .agg(sum("y").as("sy"), count(lit(1)).as("n"))
        .withColumn("mu",
          col("sy").cast("double") / col("n").cast("double"))
      val gaps = cells.groupBy("q")
        .agg(max(when(col("treated"), col("mu"))).as("mu_t"),
          max(when(!col("treated"), col("mu"))).as("mu_c"))
        .withColumn("gap", col("mu_t") - col("mu_c"))
        .localCheckpoint()
      val base = gaps.filter(col("q") === 1997L * 4 + 3)
        .select(col("gap").as("base_gap"))
      gaps.crossJoin(broadcast(base))
        .select(col("q").as("quarter_idx"),
          (col("q") - (1998L * 4)).as("rel_quarter"),
          col("gap"), (col("gap") - col("base_gap")).as("coef_cents"))
        .orderBy("quarter_idx")
    },
    Some("""WITH o AS (SELECT
          (c.c_mktsegment = 'BUILDING') AS treated,
          CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          CAST(year(CAST(od.o_orderdate AS DATE)) * 4 +
            quarter(CAST(od.o_orderdate AS DATE)) - 1 AS BIGINT) AS q
        FROM orders od JOIN customer c ON c.c_custkey = od.o_custkey
        WHERE CAST(year(CAST(od.o_orderdate AS DATE)) * 4 +
            quarter(CAST(od.o_orderdate AS DATE)) - 1 AS BIGINT)
          BETWEEN 1997 * 4 AND 1999 * 4 + 3),
      cells AS (SELECT q, treated,
          CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        FROM o GROUP BY 1, 2),
      gaps AS (SELECT q,
          MAX(CASE WHEN treated THEN mu END) -
            MAX(CASE WHEN NOT treated THEN mu END) AS gap
        FROM cells GROUP BY q),
      base AS (SELECT gap AS base_gap FROM gaps
        WHERE q = 1997 * 4 + 3)
      SELECT g.q AS quarter_idx, g.q - 1998 * 4 AS rel_quarter,
        g.gap, g.gap - b.base_gap AS coef_cents
      FROM gaps g CROSS JOIN base b ORDER BY quarter_idx"""),
    covers = Seq("CAUSAL-event-study"))

  // ------------------------------------------------- Theil-Sen
  // Median-of-pairwise-slopes trend of weeklyLineitem quantity: every slope
  // is ONE division of exact integers (identical doubles), the
  // Sen slope a percentile_disc element pick over them, and the
  // intercept the median residual at that slope. The outlier-proof
  // trend line q405's OLS can't give; O(weeks²) pairs are bounded by
  // the calendar, not the data.
  private val q507 = QueryDef(
    "q507_theil_sen",
    (s, dir) => {
      val wkl = weeklyLineitem(s, dir).select("wk", "q").localCheckpoint()
      val slopes = wkl.as("a").join(wkl.as("b"),
          col("a.wk") < col("b.wk"))
        .select(((col("b.q") - col("a.q")).cast("double") /
          (col("b.wk") - col("a.wk")).cast("double")).as("slope"))
      val sen = slopes.agg(count(lit(1)).as("n_pairs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
          .as("sen_slope"))
      wkl.crossJoin(broadcast(sen))
        .select(col("n_pairs"), col("sen_slope"),
          (col("q").cast("double") -
            col("sen_slope") * col("wk").cast("double")).as("resid"))
        .groupBy("n_pairs", "sen_slope")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY resid)")
          .as("intercept"))
        .select(col("n_pairs"), col("sen_slope"), col("intercept"))
    },
    Some(s"""WITH $weeklyLineitemSql,
      slopes AS (SELECT
          CAST(b.q - a.q AS DOUBLE) / CAST(b.wk - a.wk AS DOUBLE)
            AS slope
        FROM weekly a JOIN weekly b ON a.wk < b.wk),
      sen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)
            AS sen_slope
        FROM slopes)
      SELECT s.n_pairs, s.sen_slope,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY
          CAST(w.q AS DOUBLE) - s.sen_slope * CAST(w.wk AS DOUBLE))
          AS intercept
      FROM weekly w CROSS JOIN sen s
      GROUP BY s.n_pairs, s.sen_slope"""),
    covers = Seq("STAT-theil-sen"))

  // ------------------------------------------------- partial corr
  // Does discounting correlate with quantity BEYOND what order
  // volume explains? Partial correlation r_xy·z from the three
  // pairwise Pearsons (exact HUGEINT bilinears) — the
  // volume-confounding check on q486's raw correlation.
  private val q508 = QueryDef(
    "q508_partial_correlation",
    (s, dir) => {
      val m = weeklyLineitem(s, dir).agg(count(lit(1)).as("n"),
        sum("q").as("sq"), sum("x").as("sx"), sum("z").as("sz"),
        sum(dec38(col("q")) * dec38(col("q"))).as("sqq"),
        sum(dec38(col("x")) * dec38(col("x"))).as("sxx"),
        sum(dec38(col("z")) * dec38(col("z"))).as("szz"),
        sum(dec38(col("x")) * dec38(col("q"))).as("sxq"),
        sum(dec38(col("x")) * dec38(col("z"))).as("sxz"),
        sum(dec38(col("q")) * dec38(col("z"))).as("sqz"))
      def r(sab: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column): Column =
        (dec38(col("n")) * sab - dec38(sa) * dec38(sb)).cast("double") /
          (sqrt((dec38(col("n")) * saa - dec38(sa) * dec38(sa))
            .cast("double")) *
           sqrt((dec38(col("n")) * sbb - dec38(sb) * dec38(sb))
            .cast("double")))
      m.select(col("n"),
          r(col("sxq"), col("sx"), col("sq"), col("sxx"), col("sqq"))
            .as("r_xy"),
          r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
            .as("r_xz"),
          r(col("sqz"), col("sq"), col("sz"), col("sqq"), col("szz"))
            .as("r_yz"))
        .withColumn("partial_r",
          (col("r_xy") - col("r_xz") * col("r_yz")) /
            (sqrt(lit(1.0) - col("r_xz") * col("r_xz")) *
             sqrt(lit(1.0) - col("r_yz") * col("r_yz"))))
    },
    Some(s"""WITH $weeklyLineitemSql,
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(x) AS BIGINT) AS sx,
          CAST(SUM(z) AS BIGINT) AS sz,
          SUM(CAST(q AS HUGEINT) * q) AS sqq,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          SUM(CAST(z AS HUGEINT) * z) AS szz,
          SUM(CAST(x AS HUGEINT) * q) AS sxq,
          SUM(CAST(x AS HUGEINT) * z) AS sxz,
          SUM(CAST(q AS HUGEINT) * z) AS sqz
        FROM weekly),
      rs AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * sxq - CAST(sx AS HUGEINT) * sq
            AS DOUBLE) /
            (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
              CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
             sqrt(CAST(CAST(n AS HUGEINT) * sqq -
              CAST(sq AS HUGEINT) * sq AS DOUBLE))) AS r_xy,
          CAST(CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz
            AS DOUBLE) /
            (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
              CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
             sqrt(CAST(CAST(n AS HUGEINT) * szz -
              CAST(sz AS HUGEINT) * sz AS DOUBLE))) AS r_xz,
          CAST(CAST(n AS HUGEINT) * sqz - CAST(sq AS HUGEINT) * sz
            AS DOUBLE) /
            (sqrt(CAST(CAST(n AS HUGEINT) * sqq -
              CAST(sq AS HUGEINT) * sq AS DOUBLE)) *
             sqrt(CAST(CAST(n AS HUGEINT) * szz -
              CAST(sz AS HUGEINT) * sz AS DOUBLE))) AS r_yz
        FROM m)
      SELECT n, r_xy, r_xz, r_yz,
        (r_xy - r_xz * r_yz) /
          (sqrt(1.0 - r_xz * r_xz) * sqrt(1.0 - r_yz * r_yz))
          AS partial_r
      FROM rs"""),
    covers = Seq("STAT-partial-correlation"))

  // ------------------------------------------------- Granger-lite
  // Does last week's DISCOUNT predict this week's quantity beyond
  // last week's quantity? Incremental R² of the two-regressor model
  // over the AR(1) baseline — both R²s closed forms over exact
  // centered moments (identical trees), no iterative fit. The
  // lead-lag causality screen behind promotion planning.
  private val q509 = QueryDef(
    "q509_granger_lite",
    (s, dir) => {
      val w = Window.orderBy("wk")
      val rows = weeklyLineitem(s, dir)
        .withColumn("wk_prev", lag(col("wk"), 1).over(w))
        .withColumn("ylag", lag(col("q"), 1).over(w))
        .withColumn("xlag", lag(col("x"), 1).over(w))
        .filter(col("wk_prev") === col("wk") - 1)
        .select(col("q").as("y"), col("ylag").as("x1"),
          col("xlag").as("x2"))
      val m = rows.agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(dec38(col("y")) * dec38(col("y"))).as("syy"),
        sum(dec38(col("x1")) * dec38(col("x1"))).as("s11"),
        sum(dec38(col("x2")) * dec38(col("x2"))).as("s22"),
        sum(dec38(col("x1")) * dec38(col("y"))).as("s1y"),
        sum(dec38(col("x2")) * dec38(col("y"))).as("s2y"),
        sum(dec38(col("x1")) * dec38(col("x2"))).as("s12"))
      m.select(col("n"),
          (dec38(col("n")) * col("syy") - dec38(col("sy")) * dec38(col("sy")))
            .cast("double").as("a"),
          (dec38(col("n")) * col("s1y") - dec38(col("s1")) * dec38(col("sy")))
            .cast("double").as("b1"),
          (dec38(col("n")) * col("s2y") - dec38(col("s2")) * dec38(col("sy")))
            .cast("double").as("b2"),
          (dec38(col("n")) * col("s11") - dec38(col("s1")) * dec38(col("s1")))
            .cast("double").as("c11"),
          (dec38(col("n")) * col("s22") - dec38(col("s2")) * dec38(col("s2")))
            .cast("double").as("c22"),
          (dec38(col("n")) * col("s12") - dec38(col("s1")) * dec38(col("s2")))
            .cast("double").as("c12"))
        .withColumn("r2_ar", (col("b1") * col("b1") / col("c11")) / col("a"))
        .withColumn("r2_full",
          ((col("b1") * col("b1") * col("c22") +
            col("b2") * col("b2") * col("c11") -
            lit(2.0) * col("b1") * col("b2") * col("c12")) /
            (col("c11") * col("c22") - col("c12") * col("c12"))) / col("a"))
        .select(col("n"), col("r2_ar"), col("r2_full"),
          (col("r2_full") - col("r2_ar")).as("incremental_r2"))
    },
    Some(s"""WITH $weeklyLineitemSql,
      rows_ AS (SELECT q AS y, ylag AS x1, xlag AS x2 FROM (
          SELECT wk, q, x,
            lag(wk, 1) OVER (ORDER BY wk) AS wk_prev,
            lag(q, 1) OVER (ORDER BY wk) AS ylag,
            lag(x, 1) OVER (ORDER BY wk) AS xlag
          FROM weekly) WHERE wk_prev = wk - 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1) AS BIGINT) AS s1,
          CAST(SUM(x2) AS BIGINT) AS s2,
          SUM(CAST(y AS HUGEINT) * y) AS syy,
          SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
          SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
          SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
          SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
          SUM(CAST(x1 AS HUGEINT) * x2) AS s12
        FROM rows_),
      c AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
            AS DOUBLE) AS a,
          CAST(CAST(n AS HUGEINT) * s1y - CAST(s1 AS HUGEINT) * sy
            AS DOUBLE) AS b1,
          CAST(CAST(n AS HUGEINT) * s2y - CAST(s2 AS HUGEINT) * sy
            AS DOUBLE) AS b2,
          CAST(CAST(n AS HUGEINT) * s11 - CAST(s1 AS HUGEINT) * s1
            AS DOUBLE) AS c11,
          CAST(CAST(n AS HUGEINT) * s22 - CAST(s2 AS HUGEINT) * s2
            AS DOUBLE) AS c22,
          CAST(CAST(n AS HUGEINT) * s12 - CAST(s1 AS HUGEINT) * s2
            AS DOUBLE) AS c12
        FROM m)
      SELECT n, (b1 * b1 / c11) / a AS r2_ar,
        ((b1 * b1 * c22 + b2 * b2 * c11 - 2.0 * b1 * b2 * c12) /
          (c11 * c22 - c12 * c12)) / a AS r2_full,
        ((b1 * b1 * c22 + b2 * b2 * c11 - 2.0 * b1 * b2 * c12) /
          (c11 * c22 - c12 * c12)) / a - (b1 * b1 / c11) / a
          AS incremental_r2
      FROM c"""),
    covers = Seq("STAT-granger-lite"))

  // ------------------------------------------------- IPF raking
  // One iteration of iterative proportional fitting: rake the
  // segment×priority order counts to UNIFORM marginals (N/5 per row
  // and column). Row factors are exact-ratio doubles; the column
  // refit divides by column totals folded in segment order — the
  // survey-weighting core, with the post-rake row drift reported as
  // the convergence diagnostic.
  private val q510 = QueryDef(
    "q510_ipf_raking",
    (s, dir) => {
      val cells = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), Seq("o_custkey"))
        .groupBy(col("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("nij"))
        .localCheckpoint()
      val tot = cells.agg(sum("nij").as("nn"))
      val rowTot = cells.groupBy("seg").agg(sum("nij").as("rt"))
      val w1 = cells.join(broadcast(rowTot), Seq("seg"))
        .crossJoin(broadcast(tot))
        .withColumn("target", col("nn").cast("double") / lit(5.0))
        .withColumn("w1",
          col("nij").cast("double") *
            (col("target") / col("rt").cast("double")))
      val colTot = w1.groupBy("pri")
        .agg(sort_array(collect_list(struct(col("seg"), col("w1"))))
          .as("wl"))
        .withColumn("ct",
          aggregate(col("wl"), lit(0.0), (a, e) => a + e.getField("w1")))
        .select("pri", "ct")
      w1.join(broadcast(colTot), Seq("pri"))
        .withColumn("w2", col("w1") * (col("target") / col("ct")))
        .select(col("seg"), col("pri"), col("nij"),
          (col("w2") / col("nij").cast("double")).as("rake_factor"),
          col("w2"))
        .orderBy("seg", "pri")
    },
    Some("""WITH cells AS MATERIALIZED (SELECT c.c_mktsegment AS seg,
          o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS nij
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM cells),
      row_tot AS (SELECT seg, CAST(SUM(nij) AS BIGINT) AS rt
        FROM cells GROUP BY 1),
      w1 AS MATERIALIZED (SELECT c.seg, c.pri, c.nij,
          CAST(t.nn AS DOUBLE) / 5.0 AS target,
          CAST(c.nij AS DOUBLE) *
            ((CAST(t.nn AS DOUBLE) / 5.0) / CAST(r.rt AS DOUBLE)) AS w1
        FROM cells c JOIN row_tot r ON r.seg = c.seg CROSS JOIN tot t),
      col_tot AS (SELECT pri,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(w1 ORDER BY seg)), (a, b) -> a + b) AS ct
        FROM w1 GROUP BY pri)
      SELECT w.seg, w.pri, w.nij,
        (w.w1 * (w.target / ct.ct)) / CAST(w.nij AS DOUBLE)
          AS rake_factor,
        w.w1 * (w.target / ct.ct) AS w2
      FROM w1 w JOIN col_tot ct ON ct.pri = w.pri
      ORDER BY w.seg, w.pri"""),
    covers = Seq("STAT-ipf-raking"))

  // ------------------------------------------------- Chow test
  // Structural break in the weeklyLineitem-quantity trend at 1998: pooled vs
  // split linear fits, each SSE the closed form (A − B²/C)/n over
  // exact centered moments, F = ((SSEp − SSE1 − SSE2)/2)/
  // ((SSE1+SSE2)/(n−4)) — the regime-change test with zero
  // iterative fitting.
  private val q511 = QueryDef(
    "q511_chow_test",
    (s, dir) => {
      val cut = 157L // floor(days(1995-01-01..1998-01-01)/7)
      val wkl = weeklyLineitem(s, dir).select(col("wk"), col("q"))
        .withColumn("seg2", (col("wk") >= cut).cast("int"))
        .localCheckpoint()
      def mom(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n"), sum("wk").as("sx"),
          sum("q").as("sy"),
          sum(dec38(col("wk")) * dec38(col("wk"))).as("sxx"),
          sum(dec38(col("q")) * dec38(col("q"))).as("syy"),
          sum(dec38(col("wk")) * dec38(col("q"))).as("sxy"))
      def sse(p: String): Column =
        ((col(s"${p}a") - col(s"${p}b") * col(s"${p}b") / col(s"${p}c")) /
          col(s"${p}n").cast("double"))
      def named(df: DataFrame, p: String): DataFrame =
        df.select(col("n").as(s"${p}n"),
          (dec38(col("n")) * col("syy") - dec38(col("sy")) * dec38(col("sy")))
            .cast("double").as(s"${p}a"),
          (dec38(col("n")) * col("sxy") - dec38(col("sx")) * dec38(col("sy")))
            .cast("double").as(s"${p}b"),
          (dec38(col("n")) * col("sxx") - dec38(col("sx")) * dec38(col("sx")))
            .cast("double").as(s"${p}c"))
      val p = named(mom(wkl), "p")
      val g1 = named(mom(wkl.filter(col("seg2") === 0)), "g1")
      val g2 = named(mom(wkl.filter(col("seg2") === 1)), "g2")
      p.crossJoin(g1).crossJoin(g2)
        .select(col("g1n").as("n_pre"), col("g2n").as("n_post"),
          sse("p").as("sse_pooled"),
          (sse("g1") + sse("g2")).as("sse_split"))
        .withColumn("f_stat",
          ((col("sse_pooled") - col("sse_split")) / lit(2.0)) /
            (col("sse_split") /
              (col("n_pre") + col("n_post") - lit(4L)).cast("double")))
    },
    Some(s"""WITH $weeklyLineitemSql,
      wkl AS (SELECT wk, q, (wk >= 157) AS post FROM weekly),
      mp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(wk) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
          SUM(CAST(wk AS HUGEINT) * wk) AS sxx,
          SUM(CAST(q AS HUGEINT) * q) AS syy,
          SUM(CAST(wk AS HUGEINT) * q) AS sxy
        FROM wkl),
      m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(wk) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
          SUM(CAST(wk AS HUGEINT) * wk) AS sxx,
          SUM(CAST(q AS HUGEINT) * q) AS syy,
          SUM(CAST(wk AS HUGEINT) * q) AS sxy
        FROM wkl WHERE NOT post),
      m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(wk) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
          SUM(CAST(wk AS HUGEINT) * wk) AS sxx,
          SUM(CAST(q AS HUGEINT) * q) AS syy,
          SUM(CAST(wk AS HUGEINT) * q) AS sxy
        FROM wkl WHERE post),
      f AS (SELECT
          m1.n AS n_pre, m2.n AS n_post,
          (CAST(CAST(mp.n AS HUGEINT) * mp.syy -
              CAST(mp.sy AS HUGEINT) * mp.sy AS DOUBLE) -
            CAST(CAST(mp.n AS HUGEINT) * mp.sxy -
              CAST(mp.sx AS HUGEINT) * mp.sy AS DOUBLE) *
            CAST(CAST(mp.n AS HUGEINT) * mp.sxy -
              CAST(mp.sx AS HUGEINT) * mp.sy AS DOUBLE) /
            CAST(CAST(mp.n AS HUGEINT) * mp.sxx -
              CAST(mp.sx AS HUGEINT) * mp.sx AS DOUBLE)) /
            CAST(mp.n AS DOUBLE) AS sse_pooled,
          (CAST(CAST(m1.n AS HUGEINT) * m1.syy -
              CAST(m1.sy AS HUGEINT) * m1.sy AS DOUBLE) -
            CAST(CAST(m1.n AS HUGEINT) * m1.sxy -
              CAST(m1.sx AS HUGEINT) * m1.sy AS DOUBLE) *
            CAST(CAST(m1.n AS HUGEINT) * m1.sxy -
              CAST(m1.sx AS HUGEINT) * m1.sy AS DOUBLE) /
            CAST(CAST(m1.n AS HUGEINT) * m1.sxx -
              CAST(m1.sx AS HUGEINT) * m1.sx AS DOUBLE)) /
            CAST(m1.n AS DOUBLE) +
          (CAST(CAST(m2.n AS HUGEINT) * m2.syy -
              CAST(m2.sy AS HUGEINT) * m2.sy AS DOUBLE) -
            CAST(CAST(m2.n AS HUGEINT) * m2.sxy -
              CAST(m2.sx AS HUGEINT) * m2.sy AS DOUBLE) *
            CAST(CAST(m2.n AS HUGEINT) * m2.sxy -
              CAST(m2.sx AS HUGEINT) * m2.sy AS DOUBLE) /
            CAST(CAST(m2.n AS HUGEINT) * m2.sxx -
              CAST(m2.sx AS HUGEINT) * m2.sx AS DOUBLE)) /
            CAST(m2.n AS DOUBLE) AS sse_split
        FROM mp, m1, m2)
      SELECT n_pre, n_post, sse_pooled, sse_split,
        ((sse_pooled - sse_split) / 2.0) /
          (sse_split / CAST(n_pre + n_post - 4 AS DOUBLE)) AS f_stat
      FROM f"""),
    covers = Seq("STAT-chow-test"))

  // ------------------------------------------------- mean reversion
  // Regression to the mean in part demand: 1997's top-decile parts
  // (exact rank cutoffs) tracked into 1998 — their mean new
  // percentile and top-decile survival share, with the bottom
  // decile's upward drift as the mirror. The winner's-curse audit
  // behind every "double down on last year's bestsellers" plan.
  private val q514 = QueryDef(
    "q514_mean_reversion",
    (s, dir) => {
      def yearRank(yr: Int): DataFrame = {
        val d = Tables.load(s, dir, "lineitem")
          .filter(year(to_date(col("l_shipdate"))) === yr)
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_quantity").cast(DecimalType(18, 2))
            .cast(LongType)).as("d"))
        val w = Window.orderBy(col("d").desc, col("l_partkey"))
        d.withColumn("rnk", row_number().over(w).cast(LongType))
      }
      val r97 = yearRank(1997).localCheckpoint()
      val r98 = yearRank(1998).localCheckpoint()
      val n97 = r97.agg(max("rnk").as("n1"))
      val n98 = r98.agg(max("rnk").as("n2"))
      val joined = r97.select(col("l_partkey"), col("rnk").as("rnk1"))
        .join(r98.select(col("l_partkey"), col("rnk").as("rnk2")),
          Seq("l_partkey"))
        .crossJoin(broadcast(n97)).crossJoin(broadcast(n98))
      val bands = joined
        .withColumn("band",
          when(lit(10L) * col("rnk1") <= col("n1"), "1_top_decile")
            .when(lit(10L) * col("rnk1") > lit(9L) * col("n1"),
              "3_bottom_decile")
            .otherwise("2_middle"))
      bands.groupBy("band")
        .agg(count(lit(1)).as("n_parts"), sum("rnk2").as("sr2"),
          max("n2").as("n2"),
          sum(when(lit(10L) * col("rnk2") <= col("n2"), 1L)
            .otherwise(0L)).as("still_top"))
        .select(col("band"), col("n_parts"),
          (col("sr2").cast("double") /
            (col("n_parts") * col("n2")).cast("double"))
            .as("mean_next_pct"),
          (col("still_top").cast("double") / col("n_parts").cast("double"))
            .as("top_decile_rate"))
        .orderBy("band")
    },
    Some("""WITH d97 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS d
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
        GROUP BY 1),
      r97 AS (SELECT l_partkey, CAST(row_number() OVER (
          ORDER BY d DESC, l_partkey) AS BIGINT) AS rnk1 FROM d97),
      d98 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS d
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1998
        GROUP BY 1),
      r98 AS (SELECT l_partkey, CAST(row_number() OVER (
          ORDER BY d DESC, l_partkey) AS BIGINT) AS rnk2 FROM d98),
      n1 AS (SELECT CAST(MAX(rnk1) AS BIGINT) AS n1 FROM r97),
      n2 AS (SELECT CAST(MAX(rnk2) AS BIGINT) AS n2 FROM r98),
      j AS (SELECT a.l_partkey, a.rnk1, b.rnk2, n1.n1, n2.n2
        FROM r97 a JOIN r98 b ON b.l_partkey = a.l_partkey
        CROSS JOIN n1 CROSS JOIN n2),
      bands AS (SELECT *,
          CASE WHEN 10 * rnk1 <= n1 THEN '1_top_decile'
            WHEN 10 * rnk1 > 9 * n1 THEN '3_bottom_decile'
            ELSE '2_middle' END AS band
        FROM j)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(SUM(rnk2) AS DOUBLE) /
          CAST(COUNT(*) * MAX(n2) AS DOUBLE) AS mean_next_pct,
        CAST(COUNT(*) FILTER (WHERE 10 * rnk2 <= n2) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS top_decile_rate
      FROM bands GROUP BY band ORDER BY band"""),
    covers = Seq("STAT-mean-reversion"))

  // ------------------------------------------------- reliability
  // Split-half reliability of part demand: odd-week vs even-week
  // quantities per part, Pearson r from exact HUGEINT bilinears,
  // stepped up by Spearman-Brown 2r/(1+r) — is one year of demand
  // data enough signal to rank SKUs, or mostly noise?
  private val q515 = QueryDef(
    "q515_split_half_reliability",
    (s, dir) => {
      def d38(c: Column): Column = c.cast(DecimalType(38, 0))
      val halves = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          (floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType) % 2 === 0).as("even_wk"),
          col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
            .as("qty"))
        .groupBy("l_partkey")
        .agg(sum(when(col("even_wk"), col("qty")).otherwise(0L)).as("x"),
          sum(when(!col("even_wk"), col("qty")).otherwise(0L)).as("y"))
      val m = halves.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"))
      m.select(col("n"),
          ((d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double") /
            (sqrt((d38(col("n")) * col("sxx") -
              d38(col("sx")) * d38(col("sx"))).cast("double")) *
             sqrt((d38(col("n")) * col("syy") -
              d38(col("sy")) * d38(col("sy"))).cast("double"))))
            .as("r_half"))
        .withColumn("spearman_brown",
          lit(2.0) * col("r_half") / (lit(1.0) + col("r_half")))
    },
    Some("""WITH halves AS (SELECT l_partkey,
          CAST(SUM(CASE WHEN CAST(floor(date_diff('day',
              DATE '1995-01-01', CAST(l_shipdate AS DATE)) / 7.0)
              AS BIGINT) % 2 = 0
            THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS x,
          CAST(SUM(CASE WHEN CAST(floor(date_diff('day',
              DATE '1995-01-01', CAST(l_shipdate AS DATE)) / 7.0)
              AS BIGINT) % 2 <> 0
            THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS y
        FROM lineitem GROUP BY 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          SUM(CAST(y AS HUGEINT) * y) AS syy,
          SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM halves),
      r AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
            AS DOUBLE) /
          (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
            CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
           sqrt(CAST(CAST(n AS HUGEINT) * syy -
            CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS r_half
        FROM m)
      SELECT n, r_half, 2.0 * r_half / (1.0 + r_half)
        AS spearman_brown
      FROM r"""),
    covers = Seq("STAT-split-half"))

  // ------------------------------------------------- Pareto knee
  // The knee of the revenue concentration curve: rank parts by
  // revenue, find the rank maximizing distance to the (0,0)–(N,R)
  // chord — the argmax of the exact integer |i·R − C_i·N|, ties →
  // rank. Where "the head" objectively ends, without eyeballing a
  // plot.
  private val q516 = QueryDef(
    "q516_pareto_knee",
    (s, dir) => {
      val rev = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(4, 2)) -
            col("l_discount").cast(DecimalType(4, 2)))) * 10000)
          .cast(LongType)).as("r"))
      val w = Window.orderBy(col("r").desc, col("l_partkey"))
      val ranked = rev
        .withColumn("i", row_number().over(w).cast(LongType))
        .withColumn("c", sum("r").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = ranked.agg(max("i").as("np"), max("c").as("rt"))
      val knee = ranked.crossJoin(broadcast(tot))
        .withColumn("dist_num",
          abs(col("i") * col("rt") - col("c") * col("np")))
      val wk = Window.orderBy(col("dist_num").desc, col("i"))
      knee.withColumn("rk", row_number().over(wk))
        .filter(col("rk") === 1)
        .select(col("i").as("knee_rank"), col("np").as("n_parts"),
          (col("i").cast("double") / col("np").cast("double"))
            .as("rank_share"),
          (col("c").cast("double") / col("rt").cast("double"))
            .as("revenue_share_at_knee"))
    },
    Some("""WITH rev AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY 1),
      ranked AS (SELECT l_partkey, r,
          CAST(row_number() OVER (ORDER BY r DESC, l_partkey)
            AS BIGINT) AS i,
          CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS c
        FROM rev),
      tot AS (SELECT CAST(MAX(i) AS BIGINT) AS np,
          CAST(MAX(c) AS BIGINT) AS rt FROM ranked),
      knee AS (SELECT i, c, np, rt,
          ABS(i * rt - c * np) AS dist_num,
          row_number() OVER (ORDER BY ABS(i * rt - c * np) DESC, i)
            AS rk
        FROM ranked CROSS JOIN tot)
      SELECT i AS knee_rank, np AS n_parts,
        CAST(i AS DOUBLE) / CAST(np AS DOUBLE) AS rank_share,
        CAST(c AS DOUBLE) / CAST(rt AS DOUBLE)
          AS revenue_share_at_knee
      FROM knee WHERE rk = 1"""),
    covers = Seq("STAT-pareto-knee"))

  val all: Seq[QueryDef] =
    Seq(q206, q207, q208, q209, q210, q214, q228, q229, q260, q273, q274,
      q275, q297, q302, q334, q338, q339, q367, q368, q373, q374, q377, q387,
      q391, q394, q399, q400, q402, q404, q406, q408, q409, q410, q411, q414,
      q415, q416, q432, q433, q435, q437, q438, q439, q440, q445, q446, q449,
      q450, q453, q454, q455, q502, q503, q505, q506, q507, q508, q509, q510,
      q511, q514, q515, q516)
}
