package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.Tables

import QueryDef.{d4ToDouble, dec, spread}

/** Relational operators: joins (equi, theta, as-of, skew-salted,
  * null-safe), subqueries, set operations, ordering and top-k, SQL
  * surface forms (pivot/unpivot, GROUP BY ALL, FILTER, CTEs), and the
  * scalar, map, array and JSON function families.
  *
  * Determinism rules: see the [[QueryDef]] companion.
  */
object RelationalGates {

  /** Word tokens (documents.text is single-space separated). */
  private[queries] def toksOf(c: Column): Column = split(c, " ")

  // ---------------------------------------------------------------- J1
  // Star-schema dim join — dims are broadcast (the 100 TB version
  // shuffles only the fact table side; dims are KBs).
  private val q11 = QueryDef(
    "q11_join_dims",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
      CAST(COUNT(*) AS BIGINT) AS n_items,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    covers = Seq("J1"))

  // ---------------------------------------------------------------- O1/O2
  // Top-k: Catalyst plans TakeOrderedAndProject — no full sort at scale.
  private val q12 = QueryDef(
    "q12_topk",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          to_date(col("o_orderdate")).as("order_date"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(20)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(o_orderdate AS DATE) AS order_date
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    covers = Seq("O1", "O2"))

  // ---------------------------------------------------------------- J3 (semi)
  private val q14 = QueryDef(
    "q14_semi_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 200000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      ORDER BY c_custkey"""),
    covers = Seq("J3"))

  // ---------------------------------------------------------------- C2
  // Uncorrelated scalar subquery (aggregators.py:270-276): computed
  // once, broadcast to the filter.
  private val q16 = QueryDef(
    "q16_scalar_subquery",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val thr = o.agg(
        (sum(dec(col("o_totalprice"))).cast("double") / count(lit(1))).as("thr"))
      o.crossJoin(broadcast(thr))
        .filter(col("o_totalprice") > col("thr"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_above_avg"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above_avg
      FROM orders
      WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("C2", "C1"))

  // ---------------------------------------------------------------- P7-style
  // Rule-cascade classification as a pure when/otherwise chain — the
  // reference's row-UDF (cleaners.py:133-171) pattern, kept codegen'd.
  private val q17 = QueryDef(
    "q17_case_cascade",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.select(
          when(col("l_quantity") >= 45, "huge")
            .when(col("l_quantity") >= 30, "large")
            .when(col("l_quantity") >= 10, "medium")
            .otherwise("small").as("size_class"),
          when(col("l_discount") >= 0.08, "deep")
            .when(col("l_discount") >= 0.03, "mid")
            .otherwise("low").as("discount_class"),
          dec(col("l_extendedprice")).as("price"))
        .groupBy("size_class", "discount_class")
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
        .orderBy("size_class", "discount_class")
    },
    Some("""SELECT
      CASE WHEN l_quantity >= 45 THEN 'huge'
           WHEN l_quantity >= 30 THEN 'large'
           WHEN l_quantity >= 10 THEN 'medium'
           ELSE 'small' END AS size_class,
      CASE WHEN l_discount >= 0.08 THEN 'deep'
           WHEN l_discount >= 0.03 THEN 'mid'
           ELSE 'low' END AS discount_class,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("P7", "P2", "P10"))

  // ---------------------------------------------------------------- §2.8 strings
  private val q18 = QueryDef(
    "q18_string_funcs",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
      p.groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          sum(when(col("p_type").like("%a%"), 1).otherwise(0)).as("n_with_a"),
          (sum(length(trim(col("p_name")))).cast("double") / count(lit(1)))
            .as("avg_name_len"),
          min(upper(substring(col("p_name"), 1, 8))).as("min_prefix"),
          max(regexp_replace(lower(col("p_type")), " ", "_")).as("max_slug"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand,
      CAST(COUNT(*) AS BIGINT) AS n_parts,
      CAST(SUM(CASE WHEN p_type LIKE '%a%' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_a,
      CAST(SUM(length(trim(p_name))) AS DOUBLE) / COUNT(*) AS avg_name_len,
      MIN(upper(substr(p_name, 1, 8))) AS min_prefix,
      MAX(replace(lower(p_type), ' ', '_')) AS max_slug
      FROM part GROUP BY p_brand ORDER BY p_brand"""),
    covers = Seq("P2", "P3", "P12"))

  // ---------------------------------------------------------------- J2
  // Interval-overlap self-join (aggregators.py:298-325). Unlike the
  // reference's pure theta join, we keep the equi key (user_id) in the
  // join condition so Spark plans a shuffled hash/sort-merge join with
  // the range predicate as a post-filter — linear shuffle, not the
  // O(n²) BroadcastNestedLoop a bare theta join would get. This is the
  // 100 TB-safe shape (SURVEY §4.3).
  private val q20 = QueryDef(
    "q20_overlap_join",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(
          col("event_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
      val a = e.as("a")
      val b = e.as("b")
      a.join(b,
          col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("a.start_ts") < col("b.end_ts") &&
          col("a.end_ts") > col("b.start_ts"))
        .groupBy(col("a.user_id").as("user_id"))
        .agg(count(lit(1)).as("n_overlapping_pairs"))
        .orderBy("user_id")
    },
    Some("""WITH s AS (
        SELECT event_id, user_id, ts AS start_ts,
               ts + INTERVAL 30 MINUTE AS end_ts
        FROM events)
      SELECT a.user_id AS user_id, CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
      FROM s a JOIN s b
        ON a.user_id = b.user_id
       AND a.event_id < b.event_id
       AND a.start_ts < b.end_ts
       AND a.end_ts > b.start_ts
      GROUP BY a.user_id ORDER BY user_id"""),
    covers = Seq("J2"))

  // ---------------------------------------------------------------- arrays
  // The CSV-station roundtrip pattern (split → dedupe → sort → rejoin,
  // cleaners.py:181-229 / O3) exercised generically.
  private val q37 = QueryDef(
    "q37_array_ops",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = split(col("text"), " ")
      val distinctSorted = array_sort(array_distinct(toks))
      d.select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(distinctSorted).as("n_distinct"),
          array_join(slice(distinctSorted, 1, 5), ",").as("first5"),
          element_at(distinctSorted, 1).as("first_token"),
          element_at(distinctSorted, -1).as("last_token"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      CAST(len(list_sort(list_distinct(string_split(text, ' ')))) AS INTEGER) AS n_distinct,
      array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',') AS first5,
      list_sort(list_distinct(string_split(text, ' ')))[1] AS first_token,
      list_sort(list_distinct(string_split(text, ' ')))[-1] AS last_token
      FROM documents ORDER BY doc_id"""),
    covers = Seq("O3", "P8"))

  // ---------------------------------------------------------------- set ops
  private val q38 = QueryDef(
    "q38_set_ops",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val bigSpenders = o.filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("k")).distinct()
      val union = building.union(bigSpenders).distinct()
      val inter = building.intersect(bigSpenders)
      val minus = building.except(bigSpenders)
      union.agg(count(lit(1)).as("n_union"))
        .crossJoin(inter.agg(count(lit(1)).as("n_intersect")))
        .crossJoin(minus.agg(count(lit(1)).as("n_except")))
    },
    Some("""WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
      big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM building UNION SELECT k FROM big)) AS n_union,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM building INTERSECT SELECT k FROM big)) AS n_intersect,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM building EXCEPT SELECT k FROM big)) AS n_except"""),
    covers = Seq("SET-ops"))

  // ---------------------------------------------------------------- as-of join
  // Each click is enriched with the user's most recent purchase at or
  // before it. Spark runs graft.operators.AsOfJoin (union +
  // last-non-null window — one key shuffle, no range explosion); the
  // oracle expresses the identical union+window semantics in SQL.
  private val q41 = QueryDef(
    "q41_asof_join",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "event_id"), tiebreak = "event_id")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(col("asof_value").cast("decimal(18,2)")).cast("double")
            .as("sum_asof_value"),
          max(col("asof_event_id")).as("last_purchase_id"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS BIGINT) AS p_id
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value, event_id FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          last_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER w AS av,
          last_value(CASE WHEN is_left = 0 THEN p_id END IGNORE NULLS) OVER w AS aid
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, is_left, rtb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(av) AS BIGINT) AS n_matched,
        CAST(SUM(CAST(av AS DECIMAL(18,2))) AS DOUBLE) AS sum_asof_value,
        CAST(MAX(aid) AS BIGINT) AS last_purchase_id
      FROM c WHERE is_left = 1
      GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("JOIN-asof"))

  // ---------------------------------------------------------------- JSON scalar surface
  private val q43 = QueryDef(
    "q43_json_extract",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val k = get_json_object(col("props"), "$.k").cast(IntegerType)
      e.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(k).as("sum_k"),
          countDistinct(k).as("n_distinct_k"),
          max(k).as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_distinct_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("JSON-extract"))

  // ------------------------------------------------------------ custom physical top-k
  // The graft.plans.TopKPerKey custom operator (logical node →
  // strategy → partial/final physical heaps): bounded O(k) memory per
  // key and map-side shuffle reduction, vs the row_number window form
  // that sorts every row of every key. The oracle IS that window form
  // — proving the custom operator's semantics equal Spark's built-in.
  private val q58 = QueryDef(
    "q58_topk_per_key",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.TopKPerKey.perKey(o, Seq("o_custkey"),
          Seq(desc("o_totalprice"), asc("o_orderkey")), k = 3, rankName = "rk")
        .orderBy("o_custkey", "rk")
    },
    Some("""WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders)
      SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             CAST(rk AS BIGINT) AS rk
      FROM ranked WHERE rk <= 3 ORDER BY o_custkey, rk"""),
    covers = Seq("TOPK-perkey"))

  // ------------------------------------------------------------ skew-salted join
  // operators/SkewJoin under the gate: the salted join must be
  // row-identical to the plain equi-join the oracle runs — salting is
  // pure partitioning, invisible in the result.
  private val q59 = QueryDef(
    "q59_skew_salted_join",
    (s, dir) => {
      // project BEFORE salting: the salt hashes every input column, so
      // an unpruned frame would drag the full lineitem schema through
      // the scan (ExplainAudit caught exactly that)
      val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedInnerJoin(li, o, "l_orderkey", saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("JOIN-skew"))

  // ------------------------------------------------------------ unpivot
  // pivot's inverse (q44): wide columns → (kind, val) rows.
  private val q60 = QueryDef(
    "q60_unpivot",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size_val"),
          col("p_retailprice").cast("double").as("price_val"))
      p.unpivot(Array(col("p_partkey")),
          Array(col("size_val"), col("price_val")), "kind", "val")
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("val").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("val")).as("mn"),
          max(col("val")).as("mx"))
        .orderBy("kind")
    },
    Some("""WITH u AS (
        SELECT p_partkey, kind, val FROM (
          SELECT p_partkey,
            CAST(p_size AS DOUBLE) AS size_val,
            CAST(p_retailprice AS DOUBLE) AS price_val
          FROM part)
        UNPIVOT (val FOR kind IN (size_val, price_val)))
      SELECT kind, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
        CAST(MIN(val) AS DOUBLE) AS mn, CAST(MAX(val) AS DOUBLE) AS mx
      FROM u GROUP BY kind ORDER BY kind"""),
    covers = Seq("RESHAPE-unpivot"))

  // ------------------------------------------------------------ recursive CTE
  // Gap-filled daily series via WITH RECURSIVE (Spark 4 iterative CTE
  // execution): a 30-day ladder from the recursive anchor left-joined
  // to the real daily counts — the canonical time-series gap-fill.
  private val q64 = QueryDef(
    "q64_recursive_gapfill",
    (s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_v")
      // bounds appear ONLY in the anchor: a scalar subquery in the
      // recursive member would re-run the full orders aggregation on
      // every iteration (it cost 8s at sf0.1 before this step counter)
      s.sql("""WITH RECURSIVE daily AS (
          SELECT unix_micros(cast(o_orderdate as timestamp)) div 86400000000 AS d,
                 COUNT(*) AS n
          FROM orders_v GROUP BY 1),
        bounds AS (SELECT MAX(d) AS hi FROM daily),
        days(d, step) AS (
          SELECT hi - 29, 0 FROM bounds
          UNION ALL
          SELECT d + 1, step + 1 FROM days WHERE step < 29)
        SELECT days.d, COALESCE(daily.n, 0L) AS n,
          CAST(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
        FROM days LEFT JOIN daily ON days.d = daily.d
        ORDER BY days.d""")
    },
    Some("""WITH RECURSIVE daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1),
      bounds AS (SELECT MAX(d) AS hi FROM daily),
      days(d, step) AS (
        SELECT hi - 29, 0 FROM bounds
        UNION ALL
        SELECT d + 1, step + 1 FROM days WHERE step < 29)
      SELECT days.d, COALESCE(daily.n, 0) AS n,
        CAST(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
      FROM days LEFT JOIN daily ON days.d = daily.d
      ORDER BY days.d"""),
    covers = Seq("CTE-recursive"))

  // ------------------------------------------------------------ forward as-of join
  // q41's mirror: each click matched to the user's NEXT purchase at or
  // after it (attribution-window shape). Same union + window machinery
  // — first(ignoreNulls) over a forward frame — and the oracle is the
  // identical SQL construction.
  private val q68 = QueryDef(
    "q68_asof_forward",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "event_id"), tiebreak = "event_id",
          direction = "forward")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(col("asof_value").cast("decimal(18,2)")).cast("double")
            .as("sum_next_value"),
          min(col("asof_event_id")).as("first_next_id"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS BIGINT) AS p_id
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value, event_id FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          first_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER w AS av,
          first_value(CASE WHEN is_left = 0 THEN p_id END IGNORE NULLS) OVER w AS aid
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, 1 - is_left, rtb
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(av) AS BIGINT) AS n_matched,
        CAST(SUM(CAST(av AS DECIMAL(18,2))) AS DOUBLE) AS sum_next_value,
        CAST(MIN(aid) AS BIGINT) AS first_next_id
      FROM c WHERE is_left = 1
      GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("JOIN-asof"))

  // ------------------------------------------------------------ map-typed columns
  // MapType surface: build a term→count map per doc (the bag-of-words
  // feature shape), then size / keyed lookup / key enumeration — the
  // operations a feature store does on map columns.
  private val q70 = QueryDef(
    "q70_map_ops",
    (s, dir) => {
      val d = spread(s, Tables.load(s, dir, "documents"))
      val tok = d.select(col("doc_id"), explode(toksOf(col("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      val m = tf.groupBy("doc_id")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("term"), col("c"))))).as("tfm"))
      m.select(
          col("doc_id"),
          size(col("tfm")).as("n_terms"),
          coalesce(element_at(col("tfm"), "the"), lit(0L)).as("the_count"),
          array_min(map_keys(col("tfm"))).as("first_key"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      m AS (SELECT doc_id,
              map(list(term ORDER BY term), list(c ORDER BY term)) AS tfm
            FROM tf GROUP BY doc_id)
      SELECT doc_id,
        CAST(cardinality(tfm) AS INTEGER) AS n_terms,
        CAST(COALESCE(tfm['the'][1], 0) AS BIGINT) AS the_count,
        list_sort(map_keys(tfm))[1] AS first_key
      FROM m ORDER BY doc_id"""),
    covers = Seq("MAP-ops"))

  // ------------------------------------------------------------ VARIANT semi-structured
  // Spark 4's VARIANT path for semi-structured data (q43's modern
  // sibling): parse once into the binary variant encoding, then typed
  // variant_get extraction — at scale this parses each JSON document
  // once instead of per-extracted-field.
  private val q72 = QueryDef(
    "q72_variant_json",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_with_k,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("JSON-variant"))

  // ------------------------------------------------------------ positional explode
  // posexplode (ordinality-aware unnest): where does 'the' appear in
  // each document — first/last 0-based position and occurrence count.
  private val q74 = QueryDef(
    "q74_posexplode",
    (s, dir) => {
      val d = spread(s, Tables.load(s, dir, "documents"))
      d.select(col("doc_id"), posexplode(toksOf(col("text"))).as(Seq("pos", "tok")))
        .filter(col("tok") === "the")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_the"),
          min(col("pos")).as("first_pos"),
          max(col("pos")).as("last_pos"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      p AS (SELECT doc_id, unnest(range(0, len(tk))) AS pos, unnest(tk) AS tok FROM t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_the,
        CAST(MIN(pos) AS INTEGER) AS first_pos,
        CAST(MAX(pos) AS INTEGER) AS last_pos
      FROM p WHERE tok = 'the' GROUP BY doc_id ORDER BY doc_id"""),
    covers = Seq("J4-posexplode"))

  // ------------------------------------------------------------ lateral join
  // Correlated LATERAL derived table with ORDER BY + LIMIT: per
  // nation, its two richest customers. Catalyst decorrelates the
  // limit into a per-key ranked join — the declarative form of the
  // reference's per-group "top N" loops. (DataFrame twin of the same
  // shape is q12/q58's window/TopKPerKey; this gates the SQL surface.)
  private val q76 = QueryDef(
    "q76_lateral_topk",
    (s, dir) => {
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation_v")
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql("""SELECT n_name, c_name, c_acctbal
        FROM nation_v,
        LATERAL (SELECT c_name, c_acctbal FROM customer_v
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) AS top2
        ORDER BY n_name, c_acctbal DESC, c_name""")
    },
    Some("""SELECT n_name, c_name, c_acctbal
      FROM nation,
      LATERAL (SELECT c_name, c_acctbal FROM customer
               WHERE c_nationkey = n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) AS top2
      ORDER BY n_name, c_acctbal DESC, c_name"""),
    covers = Seq("C-lateral"))

  // ------------------------------------------------------------ EXISTS / NOT EXISTS
  // Correlated existential subqueries in SQL form; Catalyst plans
  // them as semi/anti joins (the DataFrame twins are q13/q14).
  private val q77 = QueryDef(
    "q77_exists_subquery",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("exists_c")
      Tables.load(s, dir, "orders").createOrReplaceTempView("exists_o")
      s.sql("""SELECT c_custkey, c_name FROM exists_c c
        WHERE EXISTS (SELECT 1 FROM exists_o o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM exists_o o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F')
      ORDER BY c_custkey"""),
    covers = Seq("C-exists"))

  // ------------------------------------------------------------ defensive try_*
  // ANSI mode is on (Spark 4 default): bad casts and zero divisors
  // THROW unless handled. The try_* family turns data errors into
  // NULLs — row-level fault tolerance for dirty corpora, where one
  // malformed record must not kill a 100 TB job.
  private val q78 = QueryDef(
    "q78_try_functions",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
      p.select(
          col("p_partkey"),
          expr("try_cast(CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size AS STRING) " +
            "ELSE p_type END AS INT)").as("as_int"),
          expr("try_divide(CAST(p_size AS DOUBLE), p_partkey % 5)").as("safe_div"),
          expr("try_element_at(split(p_name, ' '), 3)").as("tok3"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
        TRY_CAST(CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size AS VARCHAR)
                 ELSE p_type END AS INTEGER) AS as_int,
        CAST(p_size AS DOUBLE) / nullif(p_partkey % 5, 0) AS safe_div,
        string_split(p_name, ' ')[3] AS tok3
      FROM part ORDER BY p_partkey"""),
    covers = Seq("SC-try"))

  // ------------------------------------------------------------ multiset set ops
  // EXCEPT ALL / INTERSECT ALL: bag semantics (q38 gates the DISTINCT
  // variants). Duplicate keys must survive with multiplicity
  // arithmetic, not collapse.
  private val q81 = QueryDef(
    "q81_setops_all",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
      a.exceptAll(b).agg(count(lit(1)).as("n_except_all"))
        .crossJoin(a.intersectAll(b).agg(count(lit(1)).as("n_intersect_all")))
        .crossJoin(a.unionAll(b).agg(count(lit(1)).as("n_union_all")))
    },
    Some("""WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
           b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
         (SELECT k FROM a EXCEPT ALL SELECT k FROM b)) AS n_except_all,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
         (SELECT k FROM a INTERSECT ALL SELECT k FROM b)) AS n_intersect_all,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
         (SELECT k FROM a UNION ALL SELECT k FROM b)) AS n_union_all"""),
    covers = Seq("SET-ops-all"))

  // ------------------------------------------------------------ null-safe join
  // <=> (IS NOT DISTINCT FROM) as an equi-join key: NULL matches NULL
  // exactly once per pair. Still a hash join — Catalyst treats
  // EqualNullSafe as a joinable key, no nested loop.
  private val q82 = QueryDef(
    "q82_nullsafe_join",
    (s, dir) => {
      val l = Tables.load(s, dir, "orders").select(
        when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey") % 100).as("lk"))
      val r = Tables.load(s, dir, "customer")
        .select(when(col("c_custkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey") % 100).as("rk"))
        .groupBy("rk").agg(count(lit(1)).as("c"))
      l.join(r, col("lk") <=> col("rk"))
        .agg(
          count(lit(1)).as("n_pairs"),
          count(when(col("lk").isNull, lit(1))).as("n_null_pairs"),
          sum(col("c")).as("sum_right"))
    },
    Some("""WITH l AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                 ELSE o_custkey % 100 END AS k FROM orders),
           r AS (SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
                 ELSE c_custkey % 100 END AS k, COUNT(*) AS c
               FROM customer GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(COUNT(*) FILTER (WHERE l.k IS NULL) AS BIGINT) AS n_null_pairs,
        CAST(SUM(r.c) AS BIGINT) AS sum_right
      FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k"""),
    covers = Seq("J-nullsafe"))

  // ------------------------------------------------------------ higher-order funcs
  // Lambda functions over arrays — filter/transform/aggregate/
  // contains — all codegen'd, no explode-shuffle round trip for
  // per-row array work.
  private val q85 = QueryDef(
    "q85_hof_arrays",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = split(col("text"), " ")
      d.select(
          col("doc_id"),
          size(filter(toks, x => length(x) > 3)).as("n_long"),
          array_join(transform(slice(toks, 1, 3), x => upper(x)), "_").as("upper3"),
          aggregate(toks, lit(0), (a, x) => a + length(x)).cast("long")
            .as("total_chars"),
          array_contains(toks, "the").as("has_the"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
      SELECT doc_id,
        CAST(len(list_filter(tk, x -> len(x) > 3)) AS INTEGER) AS n_long,
        array_to_string(list_transform(tk[1:3], x -> upper(x)), '_') AS upper3,
        CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) AS total_chars,
        list_contains(tk, 'the') AS has_the
      FROM t ORDER BY doc_id"""),
    covers = Seq("SC-hof"))

  // ------------------------------------------------------------ schema-drift union
  // unionByName with missing columns: batches whose schemas drifted
  // (reordered + dropped fields) combine positionally-safely, absent
  // fields become NULL — the ingestion posture for a corpus collected
  // over years of evolving upstream formats.
  private val q89 = QueryDef(
    "q89_union_by_name",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("st"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderstatus").as("st"), col("o_orderkey").as("k"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy("st")
        .agg(count(lit(1)).as("n"),
          sum(when(col("price").isNull, 1).otherwise(0)).as("n_missing_price"))
        .orderBy("st")
    },
    Some("""WITH a AS (SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS st
               FROM orders WHERE o_orderkey % 2 = 0),
           b AS (SELECT o_orderstatus AS st, o_orderkey AS k
               FROM orders WHERE o_orderkey % 2 = 1),
           u AS (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
      SELECT st, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_price
      FROM u GROUP BY st ORDER BY st"""),
    covers = Seq("SET-union-by-name"))

  // ------------------------------------------------------------ nearest as-of
  // The third as-of direction (q41 backward, q68 forward): closest
  // right row on EITHER side, ties to backward. Both one-sided
  // carries evaluate over the same key partitioning — two window
  // sorts, one shuffle. The oracle re-implements the dual-window
  // choose in SQL.
  private val q92 = QueryDef(
    "q92_asof_nearest",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "ts"), tiebreak = "event_id", direction = "nearest")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(when(col("asof_ts").isNotNull &&
            unix_micros(col("asof_ts")) <= unix_micros(col("ts")), 1)
            .otherwise(0)).as("n_backward"),
          sum(abs(unix_micros(col("ts")) - unix_micros(col("asof_ts"))))
            .as("sum_gap_us"),
          sum(col("asof_value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_nearest_value"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS TIMESTAMP) AS p_rt
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value, ts FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          last_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER wb AS bv,
          last_value(CASE WHEN is_left = 0 THEN p_rt END IGNORE NULLS) OVER wb AS brt,
          first_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER wf AS fv,
          first_value(CASE WHEN is_left = 0 THEN p_rt END IGNORE NULLS) OVER wf AS frt
        FROM u
        WINDOW
          wb AS (PARTITION BY user_id ORDER BY t, is_left, rtb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wf AS (PARTITION BY user_id ORDER BY t, 1 - is_left, rtb
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      chosen AS (
        SELECT user_id, t,
          CASE WHEN brt IS NOT NULL AND frt IS NOT NULL THEN
                 CASE WHEN epoch_us(t) - epoch_us(brt) <= epoch_us(frt) - epoch_us(t)
                      THEN bv ELSE fv END
               WHEN brt IS NOT NULL THEN bv ELSE fv END AS nv,
          CASE WHEN brt IS NOT NULL AND frt IS NOT NULL THEN
                 least(epoch_us(t) - epoch_us(brt), epoch_us(frt) - epoch_us(t))
               WHEN brt IS NOT NULL THEN epoch_us(t) - epoch_us(brt)
               WHEN frt IS NOT NULL THEN epoch_us(frt) - epoch_us(t) END AS gap_us,
          CASE WHEN brt IS NOT NULL AND (frt IS NULL OR
                 epoch_us(t) - epoch_us(brt) <= epoch_us(frt) - epoch_us(t))
               THEN 1 ELSE 0 END AS back_chosen
        FROM c WHERE is_left = 1)
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(nv) AS BIGINT) AS n_matched,
        CAST(SUM(back_chosen) AS BIGINT) AS n_backward,
        CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
        CAST(SUM(CAST(nv AS DECIMAL(18,2))) AS DOUBLE) AS sum_nearest_value
      FROM chosen GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("JOIN-asof-nearest"))

  // ----------------------------------------------------------- star join
  // Five-dimension star query: the fact table joins every dim
  // broadcast (each is fact/10000th the size), so the only shuffle in
  // the plan is the final group-by — the canonical warehouse shape
  // the reference pushes to Athena. Gross revenue from exact DECIMAL
  // sums.
  private val q103 = QueryDef(
    "q103_star_join",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val dec = DecimalType(18, 2)
      li.join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .filter(col("p_size") <= 25 && col("s_acctbal") > 0)
        .groupBy(col("r_name").as("region"), col("l_returnflag").as("flag"),
          col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("gross"))
        .orderBy("region", "flag", "brand")
    },
    Some("""SELECT r_name AS region, l_returnflag AS flag, p_brand AS brand,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size <= 25 AND s_acctbal > 0
      GROUP BY r_name, l_returnflag, p_brand
      ORDER BY region, flag, brand"""),
    covers = Seq("J1", "A4"))

  // ---------------------------------------------------------- full outer join
  // FULL OUTER over two sparse aggregates — both sides contribute
  // unmatched keys (nulls on each side at gate scale). NULL counts are
  // kept as NULLs (outer semantics, not coalesced away); the total
  // order is on the coalesced key.
  private val q107 = QueryDef(
    "q107_full_outer",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer").filter(col("c_acctbal") > 9900)
        .groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_cust"))
      val sup = Tables.load(s, dir, "supplier").filter(col("s_acctbal") > 4000)
        .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("cnk") === col("snk"), "full_outer")
        .select(coalesce(col("cnk"), col("snk")).as("nk"),
          col("n_cust"), col("n_supp"))
        .orderBy("nk")
    },
    Some("""WITH c AS (SELECT c_nationkey nk, CAST(count(*) AS BIGINT) n_cust
               FROM customer WHERE c_acctbal > 9900 GROUP BY 1),
      s AS (SELECT s_nationkey nk, CAST(count(*) AS BIGINT) n_supp
            FROM supplier WHERE s_acctbal > 4000 GROUP BY 1)
      SELECT coalesce(c.nk, s.nk) nk, n_cust, n_supp
      FROM c FULL OUTER JOIN s ON c.nk = s.nk ORDER BY nk"""),
    covers = Seq("J-full-outer"))

  // ---------------------------------------------------- constraint checking
  // Deequ-style data-quality suite: completeness, key uniqueness,
  // range, accepted values, positivity — ONE aggregation pass over the
  // fact table — plus an anti-join referential-integrity probe; the
  // report pivots out of the metric row with explode(array(struct)).
  // The declared-schema validation step of the reference's cleaner
  // (cleaners.py:229-252), as a reusable report. The uniqueness
  // constraint genuinely FAILS on this corpus (duplicate
  // (l_orderkey, l_linenumber) pairs exist) — the report shows it.
  private val q110 = QueryDef(
    "q110_constraints",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val m = li.agg(
        count(lit(1)).as("n"),
        count(col("l_shipdate")).as("ship_nonnull"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("pk_distinct"),
        sum(when(col("l_discount").between(0, 0.1), 1).otherwise(0)).as("disc_in_range"),
        sum(when(col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)).as("flag_ok"),
        sum(when(col("l_quantity") > 0, 1).otherwise(0)).as("qty_pos"))
      val ri = li.join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      def c(name: String, actual: Column, expected: Column) =
        struct(lit(name).as("name"), actual.as("actual"), expected.as("expected"))
      m.crossJoin(ri)
        .select(explode(array(
          c("completeness_l_shipdate", col("ship_nonnull"), col("n")),
          c("uniqueness_pk", col("pk_distinct"), col("n")),
          c("range_l_discount", col("disc_in_range"), col("n")),
          c("accepted_l_returnflag", col("flag_ok"), col("n")),
          c("positive_l_quantity", col("qty_pos"), col("n")),
          c("ri_orderkey", col("orphans"), lit(0L)))).as("c"))
        .select(col("c.name"), col("c.actual"), col("c.expected"),
          (col("c.actual") === col("c.expected")).as("pass"))
        .orderBy("name")
    },
    Some("""WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(l_shipdate) AS BIGINT) AS ship_nonnull,
          CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS pk_distinct,
          CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_in_range,
          CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS flag_ok,
          CAST(sum(CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END) AS BIGINT) AS qty_pos
        FROM lineitem),
      ri AS (
        SELECT CAST(count(*) AS BIGINT) AS orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL)
      SELECT c.name, c.actual, c.expected, c.actual = c.expected AS pass FROM (
        SELECT 'completeness_l_shipdate' AS name, ship_nonnull AS actual, n AS expected FROM m
        UNION ALL SELECT 'uniqueness_pk', pk_distinct, n FROM m
        UNION ALL SELECT 'range_l_discount', disc_in_range, n FROM m
        UNION ALL SELECT 'accepted_l_returnflag', flag_ok, n FROM m
        UNION ALL SELECT 'positive_l_quantity', qty_pos, n FROM m
        UNION ALL SELECT 'ri_orderkey', orphans, CAST(0 AS BIGINT) FROM ri) c
      ORDER BY c.name"""),
    covers = Seq("P9-validate", "A2"))

  // ------------------------------------------------- NOT IN null semantics
  // The classic three-valued-logic footgun, pinned: NOT IN against a
  // null-free subquery behaves like an anti-join (3 customers), but a
  // single NULL in the subquery makes NOT IN UNKNOWN for every
  // non-matching row — zero results. Both engines must agree on both.
  private val q117 = QueryDef(
    "q117_not_in_nulls",
    (s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("ni_c")
      Tables.load(s, dir, "orders").createOrReplaceTempView("ni_o")
      s.sql("""SELECT
        (SELECT count(*) FROM ni_c
         WHERE c_custkey NOT IN (SELECT o_custkey FROM ni_o
                                 WHERE o_totalprice > 300000)) AS n_clean,
        (SELECT count(*) FROM ni_c
         WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM ni_o
                                 WHERE o_totalprice > 300000)) AS n_poisoned""")
    },
    Some("""SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_totalprice > 300000)) AS n_clean,
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders
                               WHERE o_totalprice > 300000)) AS n_poisoned"""),
    covers = Seq("C-not-in-3vl"))

  // ------------------------------------------------------------- right join
  // RIGHT OUTER with the dimension predicate in the JOIN condition
  // (not the WHERE clause — there it would kill the outer rows): every
  // supplier survives, nation only attaches below the key cutoff.
  private val q119 = QueryDef(
    "q119_right_join",
    (s, dir) =>
      Tables.load(s, dir, "nation")
        .join(Tables.load(s, dir, "supplier"),
          col("s_nationkey") === col("n_nationkey") && col("n_nationkey") < 10,
          "right")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey"),
    Some("""SELECT s_suppkey, s_name, n_name
      FROM nation RIGHT JOIN supplier
        ON s_nationkey = n_nationkey AND n_nationkey < 10
      ORDER BY s_suppkey"""),
    covers = Seq("J-right-outer"))

  // ------------------------------------------------- as-of with tolerance
  // Bounded-staleness as-of join: the latest purchase at-or-before each
  // click still matches ONLY within a 1-hour window — stale matches
  // yield nulls, the freshness contract real feature/enrichment joins
  // carry (q41 gates the unbounded form; same one-shuffle union+window
  // plan).
  private val q120 = QueryDef(
    "q120_asof_tolerance",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "event_id"), tiebreak = "event_id",
          toleranceMs = 3600000L)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(col("asof_value").cast("decimal(18,2)")).cast("double")
            .as("sum_asof_value"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          last_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER w AS av,
          last_value(CASE WHEN is_left = 0 THEN t END IGNORE NULLS) OVER w AS art
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, is_left, rtb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      m AS (
        SELECT user_id, t,
          CASE WHEN art IS NOT NULL AND t - art <= INTERVAL 1 HOUR THEN av END AS av
        FROM c WHERE is_left = 1)
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(av) AS BIGINT) AS n_matched,
        CAST(SUM(CAST(av AS DECIMAL(18,2))) AS DOUBLE) AS sum_asof_value
      FROM m GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("J-asof-tolerance"))

  // ------------------------------------------------------ quarantine channel
  // Row-level error channel: JSON payloads corrupted deterministically
  // (truncated for event_id % 7 = 0) parse to NULL instead of failing
  // the job; good rows contribute typed values, bad rows are counted
  // into the quarantine — the reference's try/except-per-record
  // (pipeline.py:222-298) as a set-based split.
  private val q124 = QueryDef(
    "q124_json_quarantine",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").withColumn("props2",
        when(col("event_id") % 7 === 0,
          substring(col("props"), lit(1), length(col("props")) - 1))
          .otherwise(col("props")))
      val parsed = e.withColumn("j",
        from_json(col("props2"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))))
      // PERMISSIVE from_json yields a null-FIELDED struct on corrupt
      // input, not a null struct — classify on the required field
      // (every valid payload carries k), mirroring json_valid
      parsed.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("j.k")).as("n_good"),
          (count(lit(1)) - count(col("j.k"))).as("n_quarantined"),
          sum(col("j.k").cast(LongType)).as("sum_k"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (
        SELECT event_type,
          CASE WHEN event_id % 7 = 0 THEN substr(props, 1, len(props) - 1)
               ELSE props END AS props2
        FROM events)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN json_valid(props2) THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        CAST(sum(CASE WHEN json_valid(props2) THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
        CAST(sum(CASE WHEN json_valid(props2)
                 THEN CAST(json_extract(props2, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k
      FROM e GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("P9-quarantine", "C-json"))

  // ----------------------------------------- correlated aggregate (TPC-H Q17)
  // Small-quantity revenue against a PER-PART correlated average —
  // Catalyst decorrelates the scalar subquery into an aggregate +
  // join instead of re-running it per row. Quantity sums of small ints
  // are exact, so the 0.2×avg threshold is deterministic.
  private val q125 = QueryDef(
    "q125_correlated_avg",
    (s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("ca_l")
      Tables.load(s, dir, "part").createOrReplaceTempView("ca_p")
      s.sql("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
          AS avg_yearly,
        count(*) AS n_small
        FROM ca_l l JOIN ca_p p ON p_partkey = l_partkey
        WHERE p_size < 10
          AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM ca_l l2
                            WHERE l2.l_partkey = l.l_partkey)""")
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
        AS avg_yearly,
      CAST(count(*) AS BIGINT) AS n_small
      FROM lineitem l JOIN part p ON p_partkey = l_partkey
      WHERE p_size < 10
        AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)"""),
    covers = Seq("C2-correlated"))

  // -------------------------------------- multi-existential (TPC-H Q21)
  // Sole-failure suppliers: EXISTS another supplier on the order AND
  // NOT EXISTS another FAILING supplier — one semi- plus one anti-join
  // against the same fact after decorrelation, the hardest standard
  // subquery shape.
  private val q126 = QueryDef(
    "q126_sole_failure",
    (s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("sf_l")
      Tables.load(s, dir, "orders").createOrReplaceTempView("sf_o")
      Tables.load(s, dir, "supplier").createOrReplaceTempView("sf_s")
      s.sql("""SELECT s_name, count(*) AS numwait
        FROM sf_s, sf_l l1, sf_o
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM sf_l l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM sf_l l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name ORDER BY numwait DESC, s_name""")
    },
    Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name ORDER BY numwait DESC, s_name"""),
    covers = Seq("C-multi-exists"))

  // -------------------------------------------------- relational division
  // "Orders whose EVERY line item satisfies P" — division via
  // NOT EXISTS a violating row, planned as an anti join (the FORALL
  // quantifier SQL lacks natively).
  private val q128 = QueryDef(
    "q128_relational_division",
    (s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("rd_l")
      Tables.load(s, dir, "orders").createOrReplaceTempView("rd_o")
      s.sql("""SELECT o_orderkey, o_orderstatus, count(*) AS n_items
        FROM rd_o JOIN rd_l ON l_orderkey = o_orderkey
        WHERE NOT EXISTS (SELECT 1 FROM rd_l l2
                          WHERE l2.l_orderkey = o_orderkey
                            AND l2.l_returnflag <> 'N')
        GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_orderstatus, CAST(count(*) AS BIGINT) AS n_items
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_orderkey = o_orderkey
                          AND l2.l_returnflag <> 'N')
      GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey"""),
    covers = Seq("C-division"))

  // ----------------------------------------------------- calendar edges
  // Month-arithmetic edge semantics pinned: month-end clamping (Jan 31
  // + 1 month = Feb 28/29, incl. across leap years via last_day),
  // month truncation, day diffs, quarters — the calendar behaviors
  // that silently skew period-over-period reports when engines
  // disagree (q19 gates the everyday date surface).
  private val q134 = QueryDef(
    "q134_calendar_edges",
    (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("dt")).distinct()
        .select(col("dt"),
          add_months(col("dt"), 1).as("plus_month"),
          last_day(col("dt")).as("month_end"),
          add_months(last_day(col("dt")), 1).as("clamped_next"),
          trunc(col("dt"), "month").as("month_start"),
          datediff(col("dt"), lit("2024-01-01").cast("date")).cast(LongType)
            .as("days_since_jan1"),
          quarter(col("dt")).cast(LongType).as("qtr"))
        .orderBy("dt"),
    Some("""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders)
      SELECT dt,
        CAST(dt + INTERVAL 1 MONTH AS DATE) AS plus_month,
        last_day(dt) AS month_end,
        CAST(last_day(dt) + INTERVAL 1 MONTH AS DATE) AS clamped_next,
        CAST(date_trunc('month', dt) AS DATE) AS month_start,
        CAST(date_diff('day', DATE '2024-01-01', dt) AS BIGINT) AS days_since_jan1,
        CAST(date_part('quarter', dt) AS BIGINT) AS qtr
      FROM d ORDER BY dt"""),
    covers = Seq("D-calendar"))

  // ------------------------------------------------- point-in-interval join
  // Event-to-enclosing-window assignment via the equi-shaped
  // RangeJoin.pointInInterval (points carry ONE bin, intervals explode
  // theirs — no nested loop, no dedup): clicks inside each user's
  // first-72-hours window, aggregated. Oracle is the plain theta join.
  private val q136 = QueryDef(
    "q136_point_in_interval",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      val iv = e.groupBy("user_id").agg(min(col("ts")).as("s"))
        .withColumn("e", col("s") + expr("INTERVAL 72 HOURS"))
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.operators.RangeJoin
        .pointInInterval(clicks, "ts", iv, "s", "e",
          keys = Seq("user_id"), binMinutes = 720)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_in_window"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("val_in_window"))
        .orderBy("user_id")
    },
    Some("""WITH iv AS (SELECT user_id, min(ts) s, min(ts) + INTERVAL 72 HOUR e
               FROM events GROUP BY 1)
      SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_in_window,
        CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS val_in_window
      FROM events e JOIN iv ON e.user_id = iv.user_id
        AND e.ts >= iv.s AND e.ts < iv.e
      WHERE e.event_type = 'click'
      GROUP BY e.user_id ORDER BY e.user_id"""),
    covers = Seq("J2-point"))

  // ------------------------------------------------- struct-array unnest
  // Arrays of STRUCTS built in-row (zip_with to a named struct) and
  // exploded back to columns — the nested-record fan-out the raw NS
  // payload needs (publicationSections[].stations[]), gated on
  // synthetic (word, length) pairs.
  private val q139 = QueryDef(
    "q139_struct_inline",
    (s, dir) => {
      val tk = split(col("text"), " ")
      Tables.load(s, dir, "documents").filter(col("doc_id") < 10)
        .select(col("doc_id"),
          explode(zip_with(tk, transform(tk, w => length(w)),
            (w, l) => struct(w.as("word"), l.cast(LongType).as("wlen")))).as("p"))
        .select(col("doc_id"), col("p.word").as("word"), col("p.wlen").as("wlen"))
        .orderBy("doc_id", "word", "wlen")
    },
    Some("""WITH z AS (
        SELECT doc_id, list_zip(string_split(text,' '),
          list_transform(string_split(text,' '), w -> len(w))) AS pairs
        FROM documents WHERE doc_id < 10)
      SELECT doc_id, u.p[1] AS word, CAST(u.p[2] AS BIGINT) AS wlen
      FROM (SELECT doc_id, unnest(pairs) AS p FROM z) u(doc_id, p)
      ORDER BY doc_id, word, wlen"""),
    covers = Seq("P8-struct-array"))

  // --------------------------------------------------- TPC-H Q3 shape
  // Shipping-priority: selective dim filter (customer segment,
  // broadcast), two date range filters pushed into the fact scans,
  // one fact⋈fact equi-join (orders⋈lineitem on orderkey), top-10 by
  // revenue. THE canonical "filter early, broadcast the dim, shuffle
  // only the fact join" plan: at 100 TB the only wide exchange is
  // lineitem⋈orders on the join key, and both scans carry their date
  // predicate as a pushed parquet filter. Revenue sums are exact
  // DECIMAL(18,2)·(1−disc) products (scale 4), so partial aggregation
  // order cannot change a bit.
  private val q153 = QueryDef(
    "q153_tpch_q3",
    (s, dir) => {
      val cutoff = lit("1998-06-15").cast("timestamp")
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderdate,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-15'
        AND l_shipdate  > TIMESTAMP '1998-06-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""),
    covers = Seq("J1", "A4"))

  // --------------------------------------------------- TPC-H Q5 shape
  // Local-supplier volume: a 6-table snowflake join where region →
  // nation → {customer, supplier} are all broadcast dims and the only
  // shuffles are the fact-side equi-joins, plus the non-key predicate
  // c_nationkey = s_nationkey that makes the join "local". The shape
  // that proves multi-way join planning: every dim is broadcast, the
  // date filter is pushed into the orders scan, and the final group-by
  // is 25 nations wide.
  private val q154 = QueryDef(
    "q154_tpch_q5",
    (s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "EUROPE")
      val nation = Tables.load(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val customer = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supplier = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val orders = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val lineitem = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },
    Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),
    covers = Seq("J1", "A4"))

  // ------------------------------------------ TPC-H Q10 returned items
  // The returned-item revenue report: lineitem filtered to returns ⋈
  // orders (one quarter) ⋈ customer ⋈ nation, revenue aggregated per
  // customer, top 20. The canonical "two facts + two dims" shape: both
  // dims broadcast, the fact⋈fact join shuffles only the quarter's
  // orders, and the final top-k is TakeOrderedAndProject — no global
  // sort. Revenue = Σ price·(1−disc) in DECIMAL, surfaced once as
  // double.
  private val q168 = QueryDef(
    "q168_tpch_q10",
    (s, dir) => {
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val nat = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
          max(col("c_acctbal")).as("acctbal"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        MAX(c_acctbal) AS acctbal
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '1999-04-01'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    covers = Seq("J-tpch-q10"))

  // ------------------------------------------------- TPC-H Q7 volume
  // Nation-pair shipping volume: revenue flowing between two specific
  // nations per ship year, in both directions. Supplier, nation and
  // customer sides resolve via broadcast joins (dims); the single
  // data-sized exchange is lineitem⋈orders on orderkey. The nation
  // filter lands on the BROADCAST side before the join, so at 100 TB
  // the fact rows of the 23 uninvolved nations are dropped by the
  // (tiny) hash-table probe, never shuffled.
  private val q169 = QueryDef(
    "q169_tpch_q7",
    (s, dir) => {
      val nat = Tables.load(s, dir, "nation")
      val suppN = Tables.load(s, dir, "supplier")
        .join(nat.filter(col("n_name").isin("NATION_3", "NATION_8")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = Tables.load(s, dir, "customer")
        .join(nat.filter(col("n_name").isin("NATION_3", "NATION_8")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        date_part('year', l_shipdate) AS l_year,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE sn.n_name IN ('NATION_3', 'NATION_8')
        AND cn.n_name IN ('NATION_3', 'NATION_8')
        AND sn.n_name <> cn.n_name
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    covers = Seq("J-tpch-q7"))

  // ------------------------------------------- TPC-H Q8 market share
  // National market share: of all PROMO-part revenue sold to customers
  // in EUROPE, the fraction supplied by NATION_8, per order year.
  // Share = conditional DECIMAL sum / total DECIMAL sum, divided once
  // as double (the engine-wide one-IEEE-tree rule). Every dimension
  // (part, supplier→nation, customer→nation→region) broadcasts; the
  // one shuffle is lineitem⋈orders.
  private val q170 = QueryDef(
    "q170_tpch_q8",
    (s, dir) => {
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region").filter(col("r_name") === "EUROPE")
      val partP = Tables.load(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val suppN = Tables.load(s, dir, "supplier")
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custEu = Tables.load(s, dir, "customer")
        .join(nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = Tables.load(s, dir, "orders")
        .join(broadcast(custEu), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
        .join(broadcast(partP), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_year")
        .agg(
          (sum(when(col("supp_nation") === "NATION_8", col("rev"))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
            sum(col("rev")).cast("double")).as("mkt_share"),
          sum(col("rev")).cast("double").as("total_rev"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    },
    Some("""SELECT date_part('year', o_orderdate) AS o_year,
        CAST(SUM(CASE WHEN sn.n_name = 'NATION_8'
              THEN CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("J-tpch-q8"))

  // ------------------------------------------- TPC-H Q14 promo share
  // Promo revenue share per ship month: one fact scan, one broadcast
  // part join, conditional-over-total DECIMAL sums surfaced by a
  // single double division. The month bucket comes from date_trunc so
  // partition pruning on a month-partitioned lineitem would kick in
  // unchanged.
  private val q171 = QueryDef(
    "q171_tpch_q14",
    (s, dir) => {
      val partT = Tables.load(s, dir, "part").select("p_partkey", "p_type")
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          date_trunc("month", col("l_shipdate")).as("ship_month"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
        .join(broadcast(partT), col("l_partkey") === col("p_partkey"))
        .groupBy("ship_month")
        .agg(
          (lit(100).cast("double") *
            sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
            sum(col("rev")).cast("double")).as("promo_share"),
          sum(col("rev")).cast("double").as("total_rev"),
          count(lit(1)).as("n_items"))
        .orderBy("ship_month")
    },
    Some("""SELECT date_trunc('month', l_shipdate) AS ship_month,
        CAST(100 AS DOUBLE) * CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))
            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_share,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("J-tpch-q14"))

  // ------------------------------------------------ map HOF surface
  // Map lambdas over the per-doc term-frequency map (q70 builds it;
  // here it is transformed in place): map_filter selects repeated
  // terms, transform_values squares counts (Σc², the Simpson
  // numerator, via one aggregate over map_values), transform_keys
  // rewrites keys. All per-row — zero shuffle beyond the tf groupBy
  // — which is why map HOFs beat explode-transform-reaggregate for
  // per-doc feature maps at corpus scale. The oracle computes the
  // same facts straight from the tf table (DuckDB's map lambda
  // surface differs; the CONTRACT is on values, not plan shape).
  private val q172 = QueryDef(
    "q172_map_hofs",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      val m = tf.groupBy("doc_id")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("term"), col("c"))))).as("tfm"))
      m.select(
          col("doc_id"),
          size(col("tfm")).as("n_terms"),
          size(map_filter(col("tfm"), (_, v) => v >= 2)).as("n_repeated"),
          aggregate(map_values(transform_values(col("tfm"), (_, v) => v * v)),
            lit(0L), (acc, v) => acc + v).as("sq_mass"),
          array_max(map_keys(transform_keys(col("tfm"),
            (k, _) => upper(k)))).as("max_upper_key"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id % 3 = 0),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2)
      SELECT doc_id,
        CAST(COUNT(*) AS INTEGER) AS n_terms,
        CAST(COUNT(*) FILTER (WHERE c >= 2) AS INTEGER) AS n_repeated,
        CAST(SUM(c * c) AS BIGINT) AS sq_mass,
        MAX(upper(term)) AS max_upper_key
      FROM tf GROUP BY doc_id ORDER BY doc_id"""),
    covers = Seq("MAP-hofs"))

  // ------------------------------------------------- SQL PIVOT syntax
  // The SQL-parser PIVOT surface (q44 gates the DataFrame .pivot
  // path, q118 the discovered-value path): orders pivoted to one
  // column per status, per priority. The Spark side runs actual
  // `PIVOT (... FOR ... IN ...)` SQL; the oracle spells the same
  // contract as conditional aggregation.
  private val q179 = QueryDef(
    "q179_sql_pivot",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT prio,
          CAST(o_rev AS DOUBLE) AS o_rev, o_n,
          CAST(f_rev AS DOUBLE) AS f_rev, f_n,
          CAST(p_rev AS DOUBLE) AS p_rev, p_n
        FROM (
          SELECT o_orderpriority AS prio, o_orderstatus AS st,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders)
        PIVOT (
          SUM(price) AS rev, COUNT(price) AS n
          FOR st IN ('O' AS o, 'F' AS f, 'P' AS p))
        ORDER BY prio""")
    },
    Some("""SELECT o_orderpriority AS prio,
        CAST(SUM(CASE WHEN o_orderstatus = 'O'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_rev,
        CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_n,
        CAST(SUM(CASE WHEN o_orderstatus = 'F'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_rev,
        CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
        CAST(SUM(CASE WHEN o_orderstatus = 'P'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_rev,
        CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_n
      FROM orders GROUP BY 1 ORDER BY 1"""),
    covers = Seq("SQL-pivot"))

  // ------------------------------------------- timezone day bucketing
  // The reference's real timezone hazard (SURVEY §7.4 risk 3): events
  // stored as UTC instants but reported by Dutch business day. Local
  // day = from_utc_timestamp(ts, Europe/Amsterdam) — a per-row
  // expression using the JVM's IANA tzdata, so DST transitions (+1
  // winter, +2 summer) are handled by rules, not offset arithmetic.
  // n_shifted counts the midnight-band rows whose UTC date differs
  // from the local date — exactly the rows a naive UTC DATE() bucket
  // misfiles. The oracle converts with DuckDB's own tzdata
  // (timezone('Europe/Amsterdam', timezone('UTC', ts))) — agreement
  // proves both engines apply the same rules, DST edges included.
  private val q180 = QueryDef(
    "q180_tz_bucket",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("local_d",
          to_date(from_utc_timestamp(col("ts"), "Europe/Amsterdam")))
        .withColumn("utc_d", to_date(col("ts")))
      ev.groupBy("local_d")
        .agg(count(lit(1)).as("n"),
          sum(when(col("local_d") =!= col("utc_d"), 1L).otherwise(0L))
            .as("n_shifted"))
        .orderBy("local_d")
    },
    Some("""WITH ev AS (
        SELECT CAST(timezone('Europe/Amsterdam', timezone('UTC', ts)) AS DATE) AS local_d,
               CAST(ts AS DATE) AS utc_d
        FROM events)
      SELECT local_d,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN local_d <> utc_d THEN 1 ELSE 0 END) AS BIGINT) AS n_shifted
      FROM ev GROUP BY local_d
      ORDER BY local_d"""),
    covers = Seq("TZ-bucketing"))

  // -------------------------------------------------- SQL UNPIVOT syntax
  // The SQL-parser UNPIVOT surface (q60 gates the DataFrame melt):
  // part's two numeric measures rotate to (measure, val) rows which
  // then aggregate per measure — wide-to-long without a UNION ALL
  // double-scan. Spark coerces the measure columns to their common
  // type (int → double, exact), so values hash-match the oracle's
  // hand-spelled UNION ALL.
  private val q181 = QueryDef(
    "q181_sql_unpivot",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT measure,
          COUNT(*) AS n,
          MIN(val) AS mn, MAX(val) AS mx,
          CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM (
          SELECT p_brand, p_size, p_retailprice FROM part)
        UNPIVOT (val FOR measure IN (p_size, p_retailprice))
        GROUP BY measure ORDER BY measure""")
    },
    Some("""WITH long AS (
        SELECT 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT 'p_retailprice', p_retailprice FROM part)
      SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(val) AS mn, MAX(val) AS mx,
        CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM long GROUP BY measure ORDER BY measure"""),
    covers = Seq("SQL-unpivot"))

  // -------------------------------------------------- array set algebra
  // Per-row set algebra over token arrays — union / intersect /
  // except with distinct semantics, all narrow (no explode, no
  // shuffle): the in-row form of vocabulary comparison that would
  // otherwise cost two explodes and a join per document. Outputs are
  // sorted and joined to strings so the gate hashes set CONTENT, not
  // engine-specific array ordering.
  private val q182 = QueryDef(
    "q182_array_setops",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"),
          slice(split(col("text"), " "), 1, 10).as("a"),
          slice(split(col("text"), " "), 5, 11).as("b"))
      d.select(
          col("doc_id"),
          array_join(sort_array(array_distinct(array_union(col("a"), col("b")))), ",").as("u"),
          array_join(sort_array(array_distinct(array_intersect(col("a"), col("b")))), ",").as("i"),
          array_join(sort_array(array_distinct(array_except(col("a"), col("b")))), ",").as("x"),
          size(array_distinct(array_union(col("a"), col("b")))).as("n_union"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
        SELECT doc_id, string_split(text,' ')[1:10] AS a, string_split(text,' ')[5:15] AS b
        FROM documents WHERE doc_id % 4 = 0)
      SELECT doc_id,
        COALESCE(array_to_string(list_sort(list_distinct(list_cat(a, b))), ','), '') AS u,
        COALESCE(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ','), '') AS i,
        COALESCE(array_to_string(list_sort(list_distinct(
          list_filter(a, e -> NOT list_contains(b, e)))), ','), '') AS x,
        CAST(len(list_distinct(list_cat(a, b))) AS INTEGER) AS n_union
      FROM d ORDER BY doc_id"""),
    covers = Seq("ARR-setops"))

  // ----------------------------------------------------- date spine gapfill
  // Calendar-spine gapfill without recursion (q64 gates the WITH
  // RECURSIVE form): the spine materializes in-row from ONE
  // `sequence(min, max, interval 1 day)` over the global bounds (a
  // 1-row broadcast), explodes to days, and left-joins the daily
  // aggregate — absent days surface as zero-count rows. At 100 TB
  // the spine is still only O(days) rows; the daily aggregate is the
  // only data-sized operation.
  private val q183 = QueryDef(
    "q183_date_spine",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(to_date(col("o_orderdate")).as("d"))
      val daily = o.groupBy("d").agg(count(lit(1)).as("n_raw"))
      val spine = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 DAY"))).as("d"))
      spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_raw"), lit(0L)).as("n"))
        .filter(dayofmonth(col("d")) <= 2)
        .orderBy("d")
    },
    Some("""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders),
      daily AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_raw FROM o GROUP BY d),
      bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM o),
      spine AS (SELECT CAST(unnest(generate_series(
          (SELECT lo FROM bounds), (SELECT hi FROM bounds),
          INTERVAL 1 DAY)) AS DATE) AS d)
      SELECT s.d, COALESCE(daily.n_raw, 0) AS n
      FROM spine s LEFT JOIN daily ON s.d = daily.d
      WHERE date_part('day', s.d) <= 2
      ORDER BY s.d"""),
    covers = Seq("GAPFILL-spine"))

  // --------------------------------------------- interval concurrency
  // Sweep-line concurrency per user: each event spans [ts, ts +
  // value minutes) (end exact via DECIMAL×60e6 µs); +1/−1 boundary
  // points sorted within the user partition give the running number
  // of simultaneously-open intervals. The window partitions by
  // user_id, so state never concentrates — the per-key sweep-line is
  // the scalable form (a GLOBAL concurrency sweep needs a two-level
  // prefix-sum; per entity it is one partitioned window). Ends sort
  // before starts at the same instant (half-open intervals).
  private val q185 = QueryDef(
    "q185_user_concurrency",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            (col("value").cast(DecimalType(18, 2)) * 60000000L)
              .cast(LongType)).as("en"))
      val pts = ev.select(col("user_id"), col("st").as("t"), lit(1L).as("d"),
          col("event_id"))
        .unionAll(ev.select(col("user_id"), col("en").as("t"), lit(-1L).as("d"),
          col("event_id")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("d"), col("event_id"))
      pts.withColumn("open", sum(col("d")).over(w))
        .groupBy("user_id")
        .agg(max(col("open")).as("max_concurrent"),
          count(lit(1)).as("n_points"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
        SELECT user_id, event_id,
          epoch_us(ts) AS st,
          epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS en
        FROM events),
      pts AS (
        SELECT user_id, st AS t, CAST(1 AS BIGINT) AS d, event_id FROM ev
        UNION ALL
        SELECT user_id, en, CAST(-1 AS BIGINT), event_id FROM ev),
      run AS (
        SELECT user_id,
          CAST(SUM(d) OVER (PARTITION BY user_id
            ORDER BY t, d, event_id) AS BIGINT) AS open
        FROM pts)
      SELECT user_id,
        CAST(MAX(open) AS BIGINT) AS max_concurrent,
        CAST(COUNT(*) AS BIGINT) AS n_points
      FROM run GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("INT-concurrency"))

  // ------------------------------------------------- disjunctive join
  // OR-predicate equi-join: orders match customers directly
  // (o_custkey) OR through a second derived key. Planned naively the
  // OR forces BroadcastNestedLoopJoin — O(n·m) predicate
  // evaluations. The engine form is the standard rewrite: one
  // equi-join PER disjunct, unioned, deduplicated on the output key
  // (a pair matching both arms must appear once) — all hash joins,
  // plan-guarded. The oracle writes the naive OR join; agreement
  // proves the rewrite exact, duplicates included.
  private val q191 = QueryDef(
    "q191_disjunctive_join",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 1500).as("gift_key"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val direct = o.join(c, col("o_custkey") === col("c_custkey"))
      val gifted = o.join(c, col("gift_key") === col("c_custkey"))
      direct.unionByName(gifted)
        .select(col("o_orderkey"), col("c_custkey"), col("c_acctbal"))
        .distinct()
        .orderBy("o_orderkey", "c_custkey")
    },
    Some("""SELECT DISTINCT o_orderkey, c_custkey, c_acctbal
      FROM (SELECT o_orderkey, o_custkey, o_orderkey % 1500 AS gift_key
            FROM orders WHERE o_orderkey % 50 = 0) o
      JOIN customer ON o_custkey = c_custkey OR gift_key = c_custkey
      ORDER BY o_orderkey, c_custkey"""),
    covers = Seq("J-disjunctive"))

  // ------------------------------------------ GROUP BY ALL / ORDER BY ALL
  // Parser-level GROUP BY ALL (every non-aggregate select item) and
  // ORDER BY ALL (every select item, left to right) — the
  // exploratory-SQL surface both engines grew independently; the gate
  // pins that their inference picks the same keys and order.
  private val q201 = QueryDef(
    "q201_group_by_all",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT source, lang, COUNT(*) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY ALL ORDER BY ALL""")
    },
    Some("""SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY ALL ORDER BY ALL"""),
    covers = Seq("SQL-group-by-all"))

  // ----------------------------------------------------- TPC-H Q4
  // Order-priority checking: per-priority counts of one quarter's
  // orders having at least one LATE line (shipped after the order
  // date — the commit/receipt lateness analog). The EXISTS with a
  // cross-side comparison is decorrelated into an aggregate:
  // `∃ line: l_shipdate > o_orderdate` ⟺ `max(l_shipdate) >
  // o_orderdate`, so the fact collapses to one (orderkey, max) row
  // via a map-side-combined aggregate and the quarter-filtered orders
  // broadcast onto it. A direct LEFT SEMI here would put the FACT on
  // the build side (orders is the smaller, filtered side) — the plan
  // that dies at 100 TB; this shape shuffles lineitem once, joins
  // without any fact-sized broadcast, and the shipdate lower bound
  // (implied by the quarter filter) is pushed into the fact scan.
  private val q220 = QueryDef(
    "q220_tpch_q4",
    (s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-07-01").cast("timestamp")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val lastShip = Tables.load(s, dir, "lineitem")
        // any line late for a quarter order ships after the quarter
        // start — a pushable pre-filter that shrinks the aggregate
        .filter(col("l_shipdate") > lo)
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
      lastShip
        .join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .filter(col("last_ship") > col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("J3", "A1"))

  // ----------------------------------------------------- TPC-H Q13
  // Customer order-count distribution INCLUDING zeros: the left outer
  // join that q119 gates row-wise, taken through Q13's double
  // aggregation — orders per customer (zero-order customers kept by
  // the outer join), then customers per order-count. The first
  // group-by is on the join key, so Catalyst plans one exchange for
  // both the join and the count; the second aggregate is tiny.
  private val q223 = QueryDef(
    "q223_tpch_q13",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
    Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    covers = Seq("J1", "A1"))

  // ----------------------------------------------------- TPC-H Q17
  // Small-quantity-order revenue: the correlated per-part average
  // (l_quantity < 0.2·avg over the same part) evaluated WITHOUT a
  // division — `5·n·qty < sum` over exact DECIMAL sums is the same
  // predicate with integer-exact arithmetic, so the boundary rows
  // cannot flip on float rounding. Shape: the brand filter broadcasts
  // onto the fact FIRST, and the per-part aggregate runs over that
  // filtered fact — the correlated average is only ever consulted for
  // parts that survive the filter (1/25 of brands), so the group-by
  // touches ~4% of lineitem instead of all of it. The oracle's
  // subquery aggregates the full table, but the join restricts it to
  // the same parts with identical per-group values, so the results
  // coincide while the engine's plan is the one that survives 100 TB.
  private val q224 = QueryDef(
    "q224_tpch_q17",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#23")
        .select("p_partkey")
      val l = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      // one broadcast brand-filtered fact frame feeds BOTH the
      // per-part aggregate and the probe side
      val lp = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val perPart = lp.groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_sum"),
          count(lit(1)).as("qty_n"))
      lp.join(perPart, col("l_partkey") === col("a_partkey"))
        .filter(dec(col("l_quantity")) * lit(5) * col("qty_n") < col("qty_sum"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0d))
          .as("avg_yearly"))
        .select(col("avg_yearly"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
          AS avg_yearly
      FROM lineitem JOIN part ON l_partkey = p_partkey
      JOIN (SELECT l_partkey AS a_partkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
                   CAST(COUNT(*) AS BIGINT) AS qty_n
            FROM lineitem GROUP BY l_partkey) ON l_partkey = a_partkey
      WHERE p_brand = 'Brand#23'
        AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum"""),
    covers = Seq("C2", "A4"))

  // ----------------------------------------------------- TPC-H Q19
  // Disjunctive brand/size/quantity revenue: the equi-join on
  // p_partkey carries THREE OR-arms as a residual predicate — still a
  // hash join (the equality is extractable), never a nested loop;
  // q191 gates the rewrite for the no-equality case. Each arm pairs a
  // brand with a size range and a quantity band, as in the original.
  private val q225 = QueryDef(
    "q225_tpch_q19",
    (s, dir) => {
      val p = Tables.load(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val l = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val arm1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
      val arm2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
      val arm3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
      l.join(broadcast(p),
          col("l_partkey") === col("p_partkey") && (arm1 || arm2 || arm3))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .select(col("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)"""),
    covers = Seq("J1", "A7"))

  // ----------------------------------------------------- TPC-H Q21
  // Suppliers who kept orders waiting: for finished orders, the
  // suppliers that were the SOLE late supplier in a multi-supplier
  // order. The classical form is EXISTS + NOT-EXISTS self-joins of
  // lineitem (the oracle runs exactly that); the engine computes the
  // same set with per-(order, supplier) then per-order aggregates —
  // distinct suppliers, distinct late suppliers, the unique late
  // supplier (min over the late side), and the number of late LINES
  // (Q21's numwait counts l1 rows, so an order contributes once per
  // late line) — then filters n_late=1 AND n_supp>1. Replacing two
  // correlated fact self-joins with one reduce is the 100 TB-safe
  // plan: lineitem is scanned once and shuffled once. The two-level
  // aggregate (pairs, then orders) replaces the earlier single
  // distinct-aggregate form, whose two countDistincts planned an
  // Expand ×3 of the joined fact ahead of the shuffle; the per-pair
  // partial aggregate map-side combines to unique (order, supplier)
  // pairs instead, and the second aggregate is pair-sized.
  private val q226 = QueryDef(
    "q226_tpch_q21",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      val sup = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name")
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
      val perPair = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "l_suppkey")
        .agg(sum(when(late, 1L).otherwise(0L)).as("late_lines"))
      val lateSupp = col("late_lines") > 0
      val perOrder = perPair
        .groupBy("o_orderkey")
        .agg(
          count(lit(1)).as("n_supp"),
          sum(when(lateSupp, 1L).otherwise(0L)).as("n_late"),
          min(when(lateSupp, col("l_suppkey"))).as("late_supp"),
          sum(col("late_lines")).as("n_late_lines"))
        .filter(col("n_late") === 1 && col("n_supp") > 1)
      perOrder
        .groupBy("late_supp")
        .agg(sum(col("n_late_lines")).as("numwait"))
        .join(broadcast(sup), col("late_supp") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    },
    Some("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""),
    covers = Seq("J3", "A4"))

  // ----------------------------------------------------- TPC-H Q22
  // Global-sales-opportunity: positive-balance customers above their
  // cohort's average balance with no URGENT orders — scalar subquery
  // (the average, computed once and broadcast) + anti join + group-by
  // "country code" (c_custkey % 7 substitutes the phone prefix; the
  // anti-join side is priority-filtered so qualifying customers exist
  // at every sf). The average is ONE division of exact DECIMAL sums,
  // shared by both engines, so the > boundary is bit-identical.
  private val q227 = QueryDef(
    "q227_tpch_q22",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .filter((col("c_custkey") % 7).isin(1, 3, 5))
        .select((col("c_custkey") % 7).as("cntrycode"),
          col("c_custkey"), dec(col("c_acctbal")).as("bal"))
      val avgBal = c.filter(col("bal") > 0)
        .agg((sum(col("bal")).cast("double") / count(lit(1))).as("__avg"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      c.join(broadcast(avgBal))
        .filter(col("bal").cast("double") > col("__avg"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast("double").as("totacctbal"))
        .orderBy("cntrycode")
    },
    Some("""WITH c AS (SELECT c_custkey % 7 AS cntrycode, c_custkey,
                  CAST(c_acctbal AS DECIMAL(18,2)) AS bal
              FROM customer WHERE c_custkey % 7 IN (1, 3, 5)),
        a AS (SELECT CAST(SUM(bal) AS DOUBLE) / CAST(COUNT(*) AS BIGINT)
                  AS avg_bal FROM c WHERE bal > 0)
      SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        CAST(SUM(bal) AS DOUBLE) AS totacctbal
      FROM c, a
      WHERE CAST(bal AS DOUBLE) > avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
      GROUP BY cntrycode ORDER BY cntrycode"""),
    covers = Seq("C2", "J3"))

  // ----------------------------------------------------- TPC-H Q2
  // Minimum-cost supplier: the correlated-MIN-subquery shape. The
  // part↔supplier relation is the traded (partkey, suppkey) pairs
  // with per-pair MIN price as supply cost; the correlated
  // `cost = (SELECT MIN ... WHERE same part, region suppliers)` is
  // decorrelated into a per-part MIN aggregate re-joined on partkey —
  // one extra fact-keyed exchange instead of a per-row probe. Part
  // and supplier⋈nation⋈region dims broadcast; DECIMAL equality picks
  // the winners exactly.
  private val q234 = QueryDef(
    "q234_tpch_q2",
    (s, dir) => {
      val ps = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(dec(col("l_extendedprice"))).as("ps_cost"))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "ECONOMY")
        .select("p_partkey")
      val sn = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
      val offers = ps
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      // min-cost-per-part as a window over offers, not an agg+self-join:
      // the self-join form re-ran the lineitem (partkey, suppkey)
      // aggregate on both sides (measured ~1.5x slower); the window
      // shuffles the already-filtered offers once by part
      offers
        .withColumn("__min_cost", min(col("ps_cost")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("p_partkey")))
        .filter(col("ps_cost") === col("__min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("ps_cost").cast("double").as("supply_cost"))
        .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
    },
    Some("""WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost
        FROM lineitem GROUP BY 1, 2),
      eu AS (
        SELECT s_suppkey, s_acctbal, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
      SELECT s_acctbal, s_name, n_name, p_partkey,
             CAST(ps_cost AS DOUBLE) AS supply_cost
      FROM part, ps, eu
      WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
        AND p_size = 15 AND p_type = 'ECONOMY'
        AND ps_cost = (SELECT MIN(ps2.ps_cost) FROM ps ps2, eu eu2
                       WHERE ps2.ps_partkey = p_partkey
                         AND ps2.ps_suppkey = eu2.s_suppkey)
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"""),
    covers = Seq("C2", "J1"))

  // ----------------------------------------------------- TPC-H Q11
  // Important stock: per-part traded value among one nation's
  // suppliers, kept where value exceeds 2× the average per-part
  // value — the scalar-subquery-threshold shape, with TPC-H's
  // `> FRACTION·total` cut made scale-invariant (the original 1/1000
  // empties as the part universe grows with SF). The (count, total)
  // stats are a one-row broadcast; the threshold compare
  // cross-multiplies in DECIMAL (value·n_parts > 2·total) so no
  // float boundary decides membership.
  private val q236 = QueryDef(
    "q236_tpch_q11",
    (s, dir) => {
      val supp = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_7")
        .select("s_suppkey")
      val f = Tables.load(s, dir, "lineitem")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"), dec(col("l_extendedprice")).as("__price"))
      val perPart = f.groupBy("l_partkey").agg(sum(col("__price")).as("__value"))
      val stats = perPart.agg(count(lit(1)).as("__n"), sum(col("__value")).as("__total"))
      perPart.join(broadcast(stats))
        .filter(col("__value") * col("__n") > col("__total") * lit(2))
        .select(col("l_partkey"), col("__value").cast("double").as("value"))
        .orderBy(desc("value"), col("l_partkey"))
    },
    Some("""WITH f AS (
        SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                            JOIN nation ON s_nationkey = n_nationkey
                            WHERE n_name = 'NATION_7')),
      g AS (SELECT l_partkey, SUM(price) AS value FROM f GROUP BY l_partkey)
      SELECT l_partkey, CAST(value AS DOUBLE) AS value FROM g
      WHERE value * (SELECT COUNT(*) FROM g) > 2 * (SELECT SUM(value) FROM g)
      ORDER BY value DESC, l_partkey"""),
    covers = Seq("C2", "A1"))

  // ----------------------------------------------------- TPC-H Q15
  // Top supplier: one quarter's revenue per supplier (scale-4 DECIMAL
  // sum), then the supplier(s) achieving the global maximum — the
  // revenue-view + scalar-MAX shape. The max is a one-row broadcast
  // and the tie-safe equality is DECIMAL-exact (the float version
  // could drop or double the winner). Supplier dim broadcasts onto
  // the one aggregated exchange.
  private val q237 = QueryDef(
    "q237_tpch_q15",
    (s, dir) => {
      val one = lit("1.00").cast(DecimalType(18, 2))
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .as("__rev"))
      val maxRev = rev.agg(max(col("__rev")).as("__max_rev"))
      rev.join(broadcast(maxRev), col("__rev") === col("__max_rev"))
        .join(broadcast(Tables.load(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          d4ToDouble(col("__rev")).as("total_revenue"))
        .orderBy("s_suppkey")
    },
    Some("""WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey"""),
    covers = Seq("C2", "A1"))

  // ----------------------------------------------------- TPC-H Q20
  // Potential part promotion: one nation's suppliers for whom some
  // 'small%'-named part's 1997 shipments exceed half that pair's
  // all-time quantity (recency-majority pairs — the ps_availqty
  // stand-in keeps the correlated-HAVING shape). Double-nested IN:
  // part-name filter broadcasts into the pair aggregate, the
  // qualifying pair set semi-joins the nation-filtered supplier dim.
  // The 2·q97 > qtotal compare is DECIMAL cross-multiplication.
  private val q239 = QueryDef(
    "q239_tpch_q20",
    (s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("small%")).select("p_partkey")
      val pairs = Tables.load(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(
          sum(when(year(col("l_shipdate")) === 1997, dec(col("l_quantity")))
            .otherwise(lit("0.00").cast(DecimalType(18, 2)))).as("__q97"),
          sum(dec(col("l_quantity"))).as("__qall"))
        .filter(col("__q97") * lit(2) > col("__qall"))
        .select("l_suppkey").distinct()
      Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_3")
        .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
        AND s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(CASE WHEN EXTRACT(YEAR FROM l_shipdate) = 1997
                          THEN CAST(l_quantity AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) * 2
               > SUM(CAST(l_quantity AS DECIMAL(18,2))))
      ORDER BY s_suppkey"""),
    covers = Seq("J3", "A1"))

  // ------------------------------------------- grid-bucketed radius join
  // Spatial self-join: all embedding pairs within Euclidean radius r
  // of each other in the (dim1, dim2) plane, via the grid-file
  // algorithm — each point lands in a ⌊x/r⌋×⌊y/r⌋ cell, the build
  // side fans out to its 3×3 neighborhood, and cell equality becomes
  // the shuffle key. Lossless by construction: |Δx| ≤ r with cell
  // width r means cell indexes differ by ≤ 1, so every qualifying
  // pair meets in exactly one (home, neighbor) cell; the exact d²≤r²
  // filter (one shared IEEE tree over float→double coords) decides
  // membership, cells only bound candidates. The 9× build fan-out is
  // the standard spatial-join trade: candidates stay local to a
  // cell's ~9r² window instead of the O(n²) cross pair space, and the
  // oracle runs the brute-force theta join to prove zero loss.
  private val q240 = QueryDef(
    "q240_grid_radius_join",
    (s, dir) => {
      val pts = Tables.load(s, dir, "embeddings").select(
        col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      graft.operators.GridJoin
        .radiusSelfJoin(pts, "vec_id", "x", "y", radius = 0.02d)
        .orderBy("vec_a", "vec_b")
    },
    Some("""WITH e AS (SELECT vec_id,
          CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)
      ORDER BY vec_a, vec_b"""),
    covers = Seq("SPATIAL-grid-join"))

  // ------------------------------------------------- NULLS FIRST/LAST
  // Explicit null placement in ordering. The engines' defaults
  // DISAGREE (Spark: nulls first on ASC, DuckDB: nulls last), so any
  // ordering-sensitive operator over a nullable key silently diverges
  // unless placement is explicit — this gate pins both directions by
  // materializing the order into row_number (the harness sorts rows
  // before hashing, so ordering must become a VALUE to be testable).
  // A nullable segment is derived via NULLIF; rank1 orders it ASC
  // NULLS LAST (nulls sink), rank2 DESC NULLS FIRST (nulls float),
  // custkey tiebreak makes both total. One partitioned sort each.
  private val q243 = QueryDef(
    "q243_nulls_ordering",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val w1 = Window.partitionBy("c_nationkey")
        .orderBy(asc_nulls_last("seg"), col("c_custkey"))
      val w2 = Window.partitionBy("c_nationkey")
        .orderBy(desc_nulls_first("seg"), col("c_custkey"))
      c.withColumn("rn_asc_nl", row_number().over(w1).cast("long"))
        .withColumn("rn_desc_nf", row_number().over(w2).cast("long"))
        .filter(col("rn_asc_nl") <= 3 || col("rn_desc_nf") <= 3)
        .select(col("c_nationkey"), col("c_custkey"), col("seg"),
          col("rn_asc_nl"), col("rn_desc_nf"))
        .orderBy("c_nationkey", "c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey,
          NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer),
      r AS (SELECT c_nationkey, c_custkey, seg,
          CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY seg ASC NULLS LAST, c_custkey) AS BIGINT) AS rn_asc_nl,
          CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY seg DESC NULLS FIRST, c_custkey) AS BIGINT) AS rn_desc_nf
        FROM c)
      SELECT c_nationkey, c_custkey, seg, rn_asc_nl, rn_desc_nf
      FROM r WHERE rn_asc_nl <= 3 OR rn_desc_nf <= 3
      ORDER BY c_nationkey, c_custkey"""),
    covers = Seq("O-nulls-ordering"))

  // ------------------------------------------------- ISO week boundaries
  // ISO-8601 week bucketing over seven years of order dates: the
  // (week-year, week) key differs from the calendar pair exactly at
  // year boundaries (Dec 29–Jan 3 can belong to week 1 of NEXT year
  // or week 52/53 of the PREVIOUS — both engines must agree on every
  // such row). n_cross counts the rows whose ISO week-year differs
  // from the calendar year; min/max pin the bucket edges.
  private val q247 = QueryDef(
    "q247_iso_week",
    (s, dir) => {
      val d = to_date(col("o_orderdate"))
      Tables.load(s, dir, "orders")
        .select(d.as("d"),
          expr("extract(YEAROFWEEK FROM o_orderdate)").cast("long").as("iso_year"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          year(col("o_orderdate")).cast("long").as("cal_year"))
        .groupBy("iso_year", "iso_week")
        .agg(count(lit(1)).as("n"),
          sum(when(col("iso_year") =!= col("cal_year"), 1L).otherwise(0L))
            .as("n_cross"),
          min(col("d")).as("first_day"),
          max(col("d")).as("last_day"))
        .orderBy("iso_year", "iso_week")
    },
    Some("""SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
        CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN isoyear(o_orderdate) <> EXTRACT(YEAR FROM o_orderdate)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
        MIN(CAST(o_orderdate AS DATE)) AS first_day,
        MAX(CAST(o_orderdate AS DATE)) AS last_day
      FROM orders
      GROUP BY 1, 2 ORDER BY iso_year, iso_week"""),
    covers = Seq("D-iso-week"))

  // ------------------------------------------------- negative div/mod
  // Integer division and modulo on NEGATIVE operands: Spark's `DIV`
  // and `%` truncate toward zero with the dividend's sign (Java
  // semantics), and DuckDB's `//`/`%` agree — but floor-division
  // engines (Python, PostgreSQL's date math) do not, so the contract
  // deserves a pin. pmod (always-nonnegative residue, THE bucketing
  // form — a negative key must never produce a negative partition) is
  // rebuilt in the oracle as ((x % n) + n) % n. Balances in exact
  // cents exercise both signs.
  private val q248 = QueryDef(
    "q248_negative_mod_div",
    (s, dir) => {
      val cents = (dec(col("c_acctbal")) * 100).cast("long")
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), cents.as("cents"))
        .select(col("c_custkey"), col("cents"),
          expr("cents DIV 7").as("div7"),
          (col("cents") % 7).as("mod7"),
          pmod(col("cents"), lit(7)).as("pmod7"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 7 AS div7,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 7 AS mod7,
        ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 7) + 7) % 7
          AS pmod7
      FROM customer ORDER BY c_custkey"""),
    covers = Seq("M-negative-mod"))

  // ------------------------------------------------- decimal rounding
  // round() on DECIMALS (the only rounding the determinism rules
  // allow — double rounding is banned engine-wide because Spark
  // rounds the shortest decimal repr and DuckDB the binary value).
  // On decimals both engines implement HALF_UP away from zero;
  // exact-half inputs at the cut digit (x.x5 cents) and negatives
  // prove it. The rounding itself happens in DECIMAL; the OUTPUT
  // columns are scaled BIGINTs (cents/tenths/units) because the
  // driver's hash normalizes decimal columns differently per engine
  // (r4 post-mortem: arrow values byte-identical, hash still red —
  // every green gate in the suite emits only BIGINT/DOUBLE finals,
  // so q249 now does too; the half-up pin is unchanged, a banker's-
  // rounding engine still flips r1_tenths/d1_cents on every .x5 row).
  private val q249 = QueryDef(
    "q249_decimal_rounding",
    (s, dir) => {
      val bal = dec(col("c_acctbal"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          (bal * 100).cast("long").as("bal_cents"),
          (round(bal, 1) * 10).cast("long").as("r1_tenths"),
          round(bal, 0).cast("long").as("r0_units"),
          ((round(bal, 1) - bal) * 100).cast("long").as("d1_cents"))
        .filter((bal * 100 % 10).isin(5, -5))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey,
          CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer)
      SELECT c_custkey,
        CAST(bal * 100 AS BIGINT) AS bal_cents,
        CAST(round(bal, 1) * 10 AS BIGINT) AS r1_tenths,
        CAST(round(bal, 0) AS BIGINT) AS r0_units,
        CAST((round(bal, 1) - bal) * 100 AS BIGINT) AS d1_cents
      FROM c
      WHERE bal * 100 % 10 IN (5, -5)
      ORDER BY c_custkey"""),
    covers = Seq("M-decimal-round"))

  // ------------------------------------------------- greatest/least nulls
  // N-ary extrema with NULL operands: both engines SKIP nulls
  // (greatest(1, NULL, 3) = 3) and return NULL only when every
  // operand is — the Oracle/standard NULL-poisoning variant would
  // null out any row with one missing reading, which is why the
  // contract needs a pin. Nullable operands are derived per row via
  // NULLIF on digit bands so every combination (0, 1, all nulls)
  // occurs in the data.
  private val q251 = QueryDef(
    "q251_extrema_nulls",
    (s, dir) => {
      val cents = (dec(col("c_acctbal")) * 100).cast("long")
      val a = nullif((cents % 10).cast("long"), lit(3L))
      val b = nullif(((cents % 100) / 10).cast("long"), lit(4L))
      val c = nullif((cents % 7).cast("long"), lit(5L))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), a.as("a"), b.as("b"), c.as("c"))
        .select(col("c_custkey"), col("a"), col("b"), col("c"),
          greatest(col("a"), col("b"), col("c")).as("hi"),
          least(col("a"), col("b"), col("c")).as("lo"),
          (greatest(col("a"), col("b"), col("c")).isNull).as("all_null"))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey,
          NULLIF(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 10, 3) AS a,
          NULLIF((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 100) // 10, 4) AS b,
          NULLIF(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 7, 5) AS c
        FROM customer)
      SELECT c_custkey, a, b, c,
        greatest(a, b, c) AS hi,
        least(a, b, c) AS lo,
        greatest(a, b, c) IS NULL AS all_null
      FROM c ORDER BY c_custkey"""),
    covers = Seq("M-extrema-nulls"))

  // ------------------------------------------------- capped running sum
  // Floor-at-zero running balance per user: bal_t = max(0, bal_{t-1}
  // + Δ_t). The cap makes the recurrence NON-associative, so no
  // window frame or prefix sum computes it — it is a sequential fold,
  // expressed in-row: collect each user's deltas, comparator-sort by
  // (ts, event_id) so any collect permutation folds identically, and
  // `aggregate` runs the recurrence left to right in exact DECIMAL.
  // The oracle folds the same list with DuckDB's list_reduce over an
  // ORDER BY'd list — two different fold mechanisms, one pinned
  // answer. Per-key state is that key's OWN event list: at 100 TB the
  // fold shards perfectly by user and never shuffles twice.
  private val q254 = QueryDef(
    "q254_capped_running_sum",
    (s, dir) => {
      val zero = lit("0.00").cast(DecimalType(18, 2))
      val sorted = array_sort(
        col("steps"),
        (l, r) => when(l.getField("t") < r.getField("t"), -1)
          .when(l.getField("t") > r.getField("t"), 1)
          .otherwise(l.getField("id") - r.getField("id")).cast("int"))
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(collect_list(struct(
          unix_micros(col("ts")).as("t"),
          col("event_id").as("id"),
          (dec(col("value")) - lit(250)).as("delta"))).as("steps"))
        .select(col("user_id"), size(col("steps")).as("n_events"),
          aggregate(
            transform(sorted, x => x.getField("delta")),
            zero,
            (acc, x) => greatest(acc + x, zero).cast(DecimalType(18, 2)))
            .cast("double").as("final_balance"))
        .orderBy("user_id")
    },
    Some("""WITH s AS (
        SELECT user_id,
               list(CAST(CAST(value AS DECIMAL(18,2)) - 250 AS DECIMAL(18,2))
                    ORDER BY ts, event_id) AS deltas
        FROM events GROUP BY user_id)
      SELECT user_id,
        CAST(len(deltas) AS INTEGER) AS n_events,
        CAST(list_reduce(
          list_prepend(CAST(0 AS DECIMAL(18,2)), deltas),
          (acc, x) -> CAST(greatest(acc + x, CAST(0 AS DECIMAL(18,2)))
                           AS DECIMAL(18,2))) AS DOUBLE) AS final_balance
      FROM s ORDER BY user_id"""),
    covers = Seq("F-capped-scan"))

  // ------------------------------------------------- 2-D histogram
  // Binned density over the (dim1, dim2) embedding plane: fixed-width
  // integer cells (the same ⌊x/w⌋ keys GridJoin shards by), per-cell
  // counts and micro-quantized centroids — the density map that sizes
  // a spatial-join's cells and exposes hot spots BEFORE running it.
  // One aggregate, integer keys, map-side combined. A raw double SUM
  // would be partial-order nondeterministic, so each coordinate is
  // floor-quantized to integer micro-units first (⌊x·10⁶⌋ — one
  // deterministic IEEE multiply + floor per row); the LONG sums are
  // exact under any partitioning and the centroid is ONE division.
  private val q258 = QueryDef(
    "q258_histogram_2d",
    (s, dir) => {
      val x = element_at(col("embedding"), 1).cast("double")
      val y = element_at(col("embedding"), 2).cast("double")
      val w = 0.1d
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), x.as("x"), y.as("y"))
        .groupBy(floor(col("x") / lit(w)).cast("long").as("bx"),
          floor(col("y") / lit(w)).cast("long").as("by"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1000000.0d)).cast("long")).as("qx"),
          sum(floor(col("y") * lit(1000000.0d)).cast("long")).as("qy"))
        .select(col("bx"), col("by"), col("n"),
          (col("qx").cast("double") / col("n").cast("double") / lit(1000000.0d))
            .as("cx"),
          (col("qy").cast("double") / col("n").cast("double") / lit(1000000.0d))
            .as("cy"))
        .orderBy("bx", "by")
    },
    Some("""WITH e AS (SELECT
          CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings)
      SELECT CAST(floor(x / CAST(0.1 AS DOUBLE)) AS BIGINT) AS bx,
             CAST(floor(y / CAST(0.1 AS DOUBLE)) AS BIGINT) AS by,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(x * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE) /
               CAST(COUNT(*) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cx,
             CAST(SUM(CAST(floor(y * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE) /
               CAST(COUNT(*) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cy
      FROM e GROUP BY 1, 2 ORDER BY bx, by"""),
    covers = Seq("SPATIAL-histogram-2d"))

  // ------------------------------------------------- FILTER clause
  // Standard-SQL conditional aggregation: COUNT/SUM ... FILTER
  // (WHERE ...) — the declarative form of q02's CASE-WHEN pivoting,
  // and a single-pass replacement for N filtered subqueries. Both
  // engines parse the standard syntax and fold the predicate into the
  // aggregate buffer update (one scan, map-side combined). Sums stay
  // exact DECIMAL; the one share closes as a division of exact longs.
  private val q292 = QueryDef(
    "q292_filter_clause",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority,
          COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
          COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_final,
          CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS final_share
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_final,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_final,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS final_share
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    covers = Seq("SQL-filter-clause"))

  // ------------------------------------------------- star EXCEPT
  // Wide-table hygiene: project everything but the bulky columns.
  // Spark spells it `* EXCEPT (...)`, DuckDB `* EXCLUDE (...)` — the
  // semantics pin is that both drop the named columns and keep the
  // REST in declaration order, so the hash gate catches any column-
  // order or retention divergence. Scan-level column pruning still
  // applies: the excluded columns never leave the reader.
  private val q293 = QueryDef(
    "q293_star_except",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT * EXCEPT (text)
        FROM documents
        WHERE doc_id % 25 = 0
        ORDER BY doc_id""")
    },
    Some("""SELECT * EXCLUDE (text)
      FROM documents
      WHERE doc_id % 25 = 0
      ORDER BY doc_id"""),
    covers = Seq("SQL-star-except"))

  // ------------------------------------------------- trade balance
  // Per nation: export revenue (its suppliers' shipped lines) vs
  // import revenue (its customers' purchased lines) and the net
  // balance — TPC-H q7's flow matrix folded to a per-nation balance
  // sheet. Both flows are exact DECIMAL(18,4) sums joined full-outer
  // on the nation, dims broadcast onto the fact scans.
  private val q323 = QueryDef(
    "q323_nation_trade_balance",
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))
      val li = Tables.load(s, dir, "lineitem")
      val exp = li
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"))
        .agg(sum(rev).as("exports"))
      val imp = li
        .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum(rev).as("imports"))
      exp.join(imp, Seq("nk"), "full_outer")
        .join(broadcast(Tables.load(s, dir, "nation")), col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          coalesce(col("exports"), lit(0).cast(DecimalType(18, 4)))
            .cast("double").as("exports"),
          coalesce(col("imports"), lit(0).cast(DecimalType(18, 4)))
            .cast("double").as("imports"),
          (coalesce(col("exports"), lit(0).cast(DecimalType(18, 4))) -
            coalesce(col("imports"), lit(0).cast(DecimalType(18, 4))))
            .cast("double").as("balance"))
        .orderBy("nation")
    },
    Some("""WITH rev AS (SELECT l_suppkey, l_orderkey,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r
        FROM lineitem),
      exp AS (SELECT s_nationkey AS nk, SUM(r) AS exports
              FROM rev JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY s_nationkey),
      imp AS (SELECT c_nationkey AS nk, SUM(r) AS imports
              FROM rev
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              GROUP BY c_nationkey)
      SELECT n_name AS nation,
        CAST(COALESCE(exports, 0) AS DOUBLE) AS exports,
        CAST(COALESCE(imports, 0) AS DOUBLE) AS imports,
        CAST(COALESCE(exports, 0) - COALESCE(imports, 0) AS DOUBLE) AS balance
      FROM exp FULL OUTER JOIN imp USING (nk)
      JOIN nation ON nk = n_nationkey
      ORDER BY nation"""),
    covers = Seq("J-trade-balance"))

  // ------------------------------------------------- props correlation
  // Does the JSON payload's k field track the event value? Pearson
  // per event type over (k, value·100) — JSON extraction feeding
  // integer sufficient statistics (the q322 pattern); k parses with
  // get_json_object ↔ json_extract, both exact integers.
  private val q371 = QueryDef(
    "q371_props_value_corr",
    (s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("x"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("y"))
        .filter(col("x").isNotNull)
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val g = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den1 = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val den2 = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("event_type"), col("n").as("n_events"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("corr"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS x,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL),
      g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM e GROUP BY event_type),
      f AS (SELECT event_type, n,
          CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT event_type, n AS n_events,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE))) AS corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY event_type"""),
    covers = Seq("J-json-corr"))

  val all: Seq[QueryDef] =
    Seq(q11, q12, q14, q16, q17, q18, q20, q37, q38, q41, q43, q58, q59, q60,
      q64, q68, q70, q72, q74, q76, q77, q78, q81, q82, q85, q89, q92, q103,
      q107, q110, q117, q119, q120, q124, q125, q126, q128, q134, q136, q139,
      q153, q154, q168, q169, q170, q171, q172, q179, q180, q181, q182, q183,
      q185, q191, q201, q220, q223, q224, q225, q226, q227, q234, q236, q237,
      q239, q240, q243, q247, q248, q249, q251, q254, q258, q292, q293, q323,
      q371)
}
