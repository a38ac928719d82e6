package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

import graft.Tables
import graft.dedup.Dedup
import graft.functions.StripAccents

import QueryDef.{Q, cents, dec38, spread}
import SimilarityGates.{vdOf, vdSql}

/** Training data: feature engineering and model diagnostics (the
  * ML family), text-corpus preparation (normalization, vocabulary,
  * weighted and stratified sampling, sequence packing, mixtures,
  * token budgets), multimodal features, and privacy bounds.
  *
  * Determinism rules: see the [[QueryDef]] companion.
  */
object TrainingDataGates {

  /** Train-period top-3 co-purchase recommendations per part (by
    * co-occurrence count, ties → partner key) — the shared model of
    * q463/q466/q513, built once per (context, dir) through the
    * GraphGateSource cache (three gates × three bench executions
    * otherwise rebuild the train self-join nine times per JVM; the
    * gates' DuckDB oracles re-derive it independently from lineitem).
    * Train = orders shipped before 1999.
    */
  private def recs(s: SparkSession, dir: String): DataFrame =
    GraphGateSource.cached(s, "train-recs:" + dir)(buildRecs(s, dir))

  /** The uncached builder — PlanGuardSpec pins its TopKPerKey shape
    * here, since the cached frame's visible plan is a checkpoint scan.
    */
  private[queries] def buildRecs(s: SparkSession, dir: String): DataFrame = {
    val trainOrders = Tables.load(s, dir, "orders")
      .filter(to_date(col("o_orderdate")) < lit("1999-01-01").cast(DateType))
      .select(col("o_orderkey"))
    val op = Tables.load(s, dir, "lineitem")
      .join(trainOrders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val co = op.as("a").join(op.as("b"), Seq("o"))
      .filter(col("a.p") =!= col("b.p"))
      .groupBy(col("a.p").as("part"), col("b.p").as("rec"))
      .agg(count(lit(1)).as("w"))
    // top-3 through bounded heaps (map-side capped to 3 per part per
    // partition) instead of a full window sort of every co-pair; the
    // (w desc, rec) ordering is total per part, so ranks ≡ row_number
    graft.plans.TopKPerKey.perKey(co, Seq("part"),
        Seq(col("w").desc, col("rec")), 3)
      .select("part", "rec", "rk")
  }

  private val recsSql: String =
    """train_o AS (SELECT o_orderkey FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'),
      op AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o,
          l.l_partkey AS p
        FROM lineitem l JOIN train_o t ON t.o_orderkey = l.l_orderkey),
      co AS (SELECT a.p AS part, b.p AS rec,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM op a JOIN op b ON b.o = a.o AND a.p <> b.p
        GROUP BY 1, 2),
      recs AS MATERIALIZED (SELECT part, rec, rk FROM (SELECT part, rec,
          row_number() OVER (PARTITION BY part
            ORDER BY w DESC, rec) AS rk
        FROM co) WHERE rk <= 3)"""

  // ------------------------------------------------------------ multimodal
  // The full binary-column pipeline under the hash gate: document text
  // bytes stand in for media payloads (the stub codec is deterministic
  // arithmetic over bytes, so the whole mapPartitions path — schema,
  // batching, feature row — is SQL-checkable in DuckDB down to the
  // sha256 and byte histogram).
  private val q48 = QueryDef(
    "q48_media_features",
    (s, dir) => {
      val d = spread(s, Tables.load(s, dir, "documents"))
      val mod = col("doc_id") % 3
      val media = d.select(
        col("doc_id").as("media_id"),
        when(mod === 0, "image").when(mod === 1, "audio").otherwise("video")
          .as("media_type"),
        lit(null).cast("string").as("uri"),
        col("text").cast("binary").as("content"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("int").as("meta_sample_rate"))
      graft.multimodal.MediaFeatures.extractFeatures(media)
        .select(
          col("media_id"), col("media_type"), col("byte_len"), col("sha256"),
          col("width"), col("height"), col("duration_ms"),
          element_at(col("histogram"), 3).as("h2"),
          element_at(col("histogram"), 7).as("h6"),
          col("mean_byte"))
        .orderBy("media_id")
    },
    Some("""WITH media AS (
        SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          text, octet_length(encode(text)) AS n FROM documents)
      SELECT media_id, media_type,
        CAST(n AS BIGINT) AS byte_len,
        sha256(text) AS sha256,
        CAST(CASE media_type WHEN 'image' THEN 1 + (n % 1024) WHEN 'video' THEN 640 ELSE 0 END AS INTEGER) AS width,
        CAST(CASE media_type WHEN 'image' THEN 1 + ((n // 1024) % 1024) WHEN 'video' THEN 360 ELSE 0 END AS INTEGER) AS height,
        CAST(CASE media_type WHEN 'audio' THEN n // 16 WHEN 'video' THEN n // 128 ELSE 0 END AS BIGINT) AS duration_ms,
        CAST(len(list_filter(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))), b -> b // 16 = 2)) AS BIGINT) AS h2,
        CAST(len(list_filter(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))), b -> b // 16 = 6)) AS BIGINT) AS h6,
        CAST(list_sum(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1)))) AS DOUBLE) / n AS mean_byte
      FROM media ORDER BY media_id"""),
    covers = Seq("MM-features"))

  // ------------------------------------------------------------ hash sampling
  // Deterministic ~1/8 sample by key hash — the reproducible sampling
  // a training pipeline needs (TABLESAMPLE/rand() differ per engine
  // and per run; a hash threshold is identical everywhere forever).
  private val q54 = QueryDef(
    "q54_hash_sample",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "20")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sampled_total"))
        .orderBy("o_orderstatus")
    },
    Some("""WITH s AS (
        SELECT * FROM orders WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20')
      SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n_sampled,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_total
      FROM s GROUP BY 1 ORDER BY 1"""),
    covers = Seq("SAMPLE-hash"))

  // ------------------------------------------------------------ multimodal frame sampling
  // The frame-sample fan-out path (q48's sibling): payloads big enough
  // to span several 1 KiB stub frames (text × 10), stride 2, one row
  // per kept frame with its own digest — hash-gated end to end.
  private val q65 = QueryDef(
    "q65_media_frames",
    (s, dir) => {
      val d = spread(s, Tables.load(s, dir, "documents"))
      val media = d.select(
        col("doc_id").as("media_id"),
        lit("video").as("media_type"),
        lit(null).cast("string").as("uri"),
        repeat(col("text"), 10).cast("binary").as("content"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("int").as("meta_sample_rate"))
      graft.multimodal.MediaFeatures.sampleFrameFeatures(media, stride = 2)
        .toDF()
        .orderBy("media_id", "frame_idx")
    },
    Some("""WITH media AS (
        SELECT doc_id AS media_id, repeat(text, 10) AS payload,
          octet_length(encode(repeat(text, 10))) AS n
        FROM documents),
      frames AS (
        SELECT media_id, payload,
          unnest(range(0, (((n + 1023) // 1024) + 1) // 2)) AS k
        FROM media)
      SELECT media_id, CAST(k AS INTEGER) AS frame_idx,
        CAST(length(substr(payload, CAST(1 + 2048*k AS BIGINT), 1024)) AS INTEGER) AS frame_len,
        sha256(substr(payload, CAST(1 + 2048*k AS BIGINT), 1024)) AS frame_sha256
      FROM frames ORDER BY media_id, frame_idx"""),
    covers = Seq("MM-frames"))

  // ------------------------------------------------------------ class rebalancing
  // Training-corpus class balancing: every language downsampled to the
  // minority class's size, selection DETERMINISTIC (rank by key hash,
  // not rand()) so the balanced corpus is identical on every run and
  // engine — reproducible dataset curation, q54's per-stratum sibling.
  private val q69 = QueryDef(
    "q69_class_balance",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val ranked = d.select(col("doc_id"), col("lang"),
        row_number().over(w).as("rk"))
      val minCount = d.groupBy("lang").count()
        .agg(min(col("count")).as("m"))
      ranked.crossJoin(broadcast(minCount))
        .filter(col("rk") <= col("m"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("lang")
    },
    Some("""WITH ranked AS (
        SELECT doc_id, lang,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents),
      mn AS (SELECT CAST(MIN(c) AS BIGINT) AS m
             FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)),
      bal AS (SELECT doc_id, lang FROM ranked CROSS JOIN mn WHERE rk <= m)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      FROM bal GROUP BY lang ORDER BY lang"""),
    covers = Seq("SAMPLE-balance"))

  // --------------------------------------------- repetition quality filter
  // Gopher-style repetition stats per document: duplicate-word
  // fraction, most-common-word share, most-common-bigram share, and
  // the keep/drop verdict a pretraining cleaning pass would apply.
  // All ratios are single divisions of exact integer counts, so the
  // doubles (and the threshold comparisons on them) are bit-identical
  // across engines. One explode for words, one for bigrams; both
  // aggregate before the join, so the shuffle carries per-doc stats,
  // not tokens.
  private val q97 = QueryDef(
    "q97_repetition",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val tk = d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      val wc = tk.select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val stats = wc.groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_word"))
      val bigrams = tk.select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .otherwise(array())).as("bg"))
      val bstats = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("max_bigram"), sum("c").as("n_bigrams"))
      val repFrac = (col("n_words") - col("n_distinct")).cast("double") / col("n_words")
      val topWord = col("max_word").cast("double") / col("n_words")
      val topBigram = col("max_bigram").cast("double") / col("n_bigrams")
      stats.join(bstats, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          col("max_word"), col("max_bigram"),
          repFrac.as("rep_word_frac"),
          topWord.as("top_word_frac"),
          topBigram.as("top_bigram_frac"),
          (topWord < 0.2 && repFrac < 0.8).as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
      ), wc AS (
        SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
      ), stats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) n_words, count(*) n_distinct,
               CAST(max(c) AS BIGINT) max_word
        FROM wc GROUP BY doc_id
      ), big AS (
        SELECT doc_id, bg, count(*) c FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' '))),
              i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bg
          FROM documents) GROUP BY doc_id, bg
      ), bigstats AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) max_bigram, CAST(sum(c) AS BIGINT) n_bigrams
        FROM big GROUP BY doc_id
      )
      SELECT s.doc_id, n_words, n_distinct, max_word, max_bigram,
        CAST(n_words - n_distinct AS DOUBLE)/n_words AS rep_word_frac,
        CAST(max_word AS DOUBLE)/n_words AS top_word_frac,
        CAST(max_bigram AS DOUBLE)/n_bigrams AS top_bigram_frac,
        (CAST(max_word AS DOUBLE)/n_words < 0.2
          AND CAST(n_words - n_distinct AS DOUBLE)/n_words < 0.8) AS keep
      FROM stats s JOIN bigstats b USING (doc_id)
      ORDER BY s.doc_id"""),
    covers = Seq("T-quality-repetition"))

  // --------------------------------------------------- text normalization
  // Accent stripping + case folding + whitespace collapse — the
  // canonicalization pass before dedup/language-id. The accented
  // input is planted deterministically (translate on a substring) so
  // the native StripAccents expression is exercised against DuckDB's
  // built-in strip_accents on identical text.
  private val q98 = QueryDef(
    "q98_normalize_text",
    (s, dir) => {
      val messy = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat(translate(upper(substring(col("text"), 1, 60)), "AEO", "ÁÉÖ"),
          lit("  ")).as("raw"))
      val norm = trim(regexp_replace(StripAccents(s, lower(col("raw"))), " +", " "))
      messy.select(col("doc_id"), col("raw"), norm.as("norm"),
          (length(col("raw")) - length(norm)).cast(LongType).as("removed"))
        .orderBy("doc_id")
    },
    Some("""WITH messy AS (
        SELECT doc_id,
          translate(upper(substr(text,1,60)), 'AEO', 'ÁÉÖ') || '  ' AS raw
        FROM documents)
      SELECT doc_id, raw,
        trim(regexp_replace(strip_accents(lower(raw)), ' +', ' ', 'g')) AS norm,
        CAST(len(raw) -
          len(trim(regexp_replace(strip_accents(lower(raw)), ' +', ' ', 'g'))) AS BIGINT)
          AS removed
      FROM messy ORDER BY doc_id"""),
    covers = Seq("T-normalize", "P2", "P3"))

  // ------------------------------------------- deterministic weighted sample
  // Systematic sampling proportional to n_chars, ~5 docs per source:
  // walk each stratum in doc_id order accumulating weight and emit
  // every row whose cumulative weight crosses a multiple of
  // total/5 — weight-proportional, reproducible (no RNG), and
  // integer-exact so it hash-matches across engines. The
  // curated-corpus twin of q54's uniform hash sampling.
  private val q100 = QueryDef(
    "q100_weighted_sample",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val wCum = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("source")
      d.select(col("doc_id"), col("source"), col("n_chars"),
          sum("n_chars").over(wCum).as("cum"),
          sum("n_chars").over(wAll).as("total"))
        .withColumn("step", expr("total DIV 5 + 1"))
        .filter(expr("cum DIV step > (cum - n_chars) DIV step"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("cum"))
        .orderBy("source", "doc_id")
    },
    Some("""WITH w AS (
        SELECT doc_id, source, n_chars,
          CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS total
        FROM documents)
      SELECT doc_id, source, n_chars, cum
      FROM w WHERE cum // (total // 5 + 1) > (cum - n_chars) // (total // 5 + 1)
      ORDER BY source, doc_id"""),
    covers = Seq("T-weighted-sample", "W1"))

  // ------------------------------------------------- vocabulary construction
  // Corpus vocabulary: id by (frequency desc, term) with cumulative
  // corpus coverage — the token-id assignment step of tokenizer
  // training. The unpartitioned windows run over the POST-AGGREGATE
  // term table (tiny), not the corpus.
  private val q101 = QueryDef(
    "q101_vocab_coverage",
    (s, dir) => {
      val tc = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = tc.agg(sum("c").as("t"))
      val wOrd = Window.orderBy(desc("c"), asc("w"))
      tc.crossJoin(broadcast(tot))
        .select(col("w").as("term"),
          row_number().over(wOrd).cast(LongType).as("vocab_id"),
          col("c").as("n_occurrences"),
          (sum("c").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / col("t")).as("cum_share"))
        .orderBy("vocab_id")
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
      tc AS (SELECT w, CAST(count(*) AS BIGINT) c FROM tok GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS BIGINT) t FROM tc),
      vocab AS (SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS vocab_id,
        c, CAST(sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM tc)
      SELECT w AS term, vocab_id, c AS n_occurrences,
        CAST(cum AS DOUBLE) / t AS cum_share
      FROM vocab, tot ORDER BY vocab_id"""),
    covers = Seq("T-vocab", "W7"))

  // ------------------------------------------------------------- OOV rate
  // Per-document out-of-vocabulary rate against the top-10 corpus
  // vocabulary — the coverage metric that drives vocab-size choices.
  // The vocab is broadcast (tiny by construction); tokens never
  // shuffle except for the per-doc count aggregate.
  private val q102 = QueryDef(
    "q102_oov_rate",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val top = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .select(col("w"), row_number().over(Window.orderBy(desc("c"), asc("w"))).as("rn"))
        .filter(col("rn") <= 10)
        .select(col("w").as("vw"))
      tok.join(broadcast(top), col("w") === col("vw"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (count(lit(1)) - count(col("vw"))).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      tc AS (SELECT w, count(*) c FROM tok GROUP BY w),
      top AS (SELECT w FROM (SELECT w, row_number() OVER (ORDER BY c DESC, w) rn FROM tc)
              WHERE rn <= 10)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(count(*) - count(top.w) AS BIGINT) AS n_oov,
        CAST(count(*) - count(top.w) AS DOUBLE) / count(*) AS oov_rate
      FROM tok t LEFT JOIN top ON t.w = top.w
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
    covers = Seq("T-vocab", "J1"))

  // ------------------------------------------------------- media resize
  // Distributed resize through the deterministic codec stub (q48's
  // derivation of binary media from document bytes): payloads resized
  // to a 64×32 target, metadata re-decoded from the RESIZED bytes, and
  // the resized object's sha256 — all SQL-checkable because the stub
  // is byte arithmetic (prefix take) over ASCII text.
  private val q121 = QueryDef(
    "q121_media_resize",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val mod = col("doc_id") % 3
      val media = d.select(
        col("doc_id").as("media_id"),
        when(mod === 0, "image").when(mod === 1, "audio").otherwise("video")
          .as("media_type"),
        lit(null).cast("string").as("uri"),
        col("text").cast("binary").as("content"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("int").as("meta_sample_rate"))
      graft.multimodal.MediaFeatures.resizeAll(media, 64, 32)
        .toDF().orderBy("media_id")
    },
    Some("""WITH media AS (
        SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          text, octet_length(encode(text)) AS n FROM documents),
      r AS (SELECT *, greatest(16, least(n, 64*32 // 64)) AS k FROM media)
      SELECT media_id, media_type,
        CAST(n AS BIGINT) AS orig_len,
        CAST(k AS BIGINT) AS new_len,
        CAST(CASE media_type WHEN 'image' THEN 1 + (k % 1024) WHEN 'video' THEN 640 ELSE 0 END AS INTEGER) AS new_width,
        CAST(CASE media_type WHEN 'image' THEN 1 + ((k // 1024) % 1024) WHEN 'video' THEN 360 ELSE 0 END AS INTEGER) AS new_height,
        sha256(substr(text, 1, k)) AS resized_sha256
      FROM r ORDER BY media_id"""),
    covers = Seq("MM-resize"))

  // ------------------------------------------------------- source drift
  // Distribution-drift monitor: term-share difference between two
  // source groups, top movers first — the corpus-mix check run before
  // admitting a new crawl into training data. Shares are single
  // divisions of exact counts; ranking on the shared IEEE drift tree
  // with a term tiebreak is therefore engine-stable.
  private val q127 = QueryDef(
    "q127_source_drift",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents").select(
        when(col("source").isin("src0", "src1", "src2"), "a").otherwise("b")
          .as("grp"),
        explode(split(col("text"), " ")).as("w"))
      val wide = tok.groupBy("w").agg(
        count_if(col("grp") === "a").as("n_a"),
        count_if(col("grp") === "b").as("n_b"))
      val tot = wide.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
      val drift = col("n_a").cast("double") / col("ta") -
        col("n_b").cast("double") / col("tb")
      wide.crossJoin(broadcast(tot))
        .select(col("w").as("term"), col("n_a"), col("n_b"),
          drift.as("share_drift"))
        .orderBy(abs(drift).desc, col("term"))
        .limit(15)
    },
    Some("""WITH tok AS (
        SELECT CASE WHEN source IN ('src0','src1','src2') THEN 'a' ELSE 'b' END AS grp,
          unnest(string_split(text,' ')) AS w
        FROM documents),
      c AS (SELECT grp, w, CAST(count(*) AS BIGINT) n FROM tok GROUP BY 1, 2),
      tot AS (SELECT grp, CAST(sum(n) AS BIGINT) t FROM c GROUP BY 1),
      wide AS (
        SELECT w,
          coalesce(max(CASE WHEN grp='a' THEN n END), 0) AS n_a,
          coalesce(max(CASE WHEN grp='b' THEN n END), 0) AS n_b
        FROM c GROUP BY w),
      ta AS (SELECT t FROM tot WHERE grp='a'), tb AS (SELECT t FROM tot WHERE grp='b')
      SELECT w AS term, n_a, n_b,
        CAST(n_a AS DOUBLE)/ta.t - CAST(n_b AS DOUBLE)/tb.t AS share_drift
      FROM wide, ta, tb
      ORDER BY abs(CAST(n_a AS DOUBLE)/ta.t - CAST(n_b AS DOUBLE)/tb.t) DESC, term
      LIMIT 15"""),
    covers = Seq("T-drift"))

  // ------------------------------------------------------ collocation lift
  // Bigram collocations by LIFT — P(ab)/(P(a)P(b)) as the rational
  // n_ab·N/(n_a·n_b), so no logs (PMI's log changes nothing about the
  // ranking) and the score is one shared IEEE tree over exact counts.
  // The collocation-mining step of phrase-vocabulary induction.
  private val q131 = QueryDef(
    "q131_bigram_lift",
    (s, dir) => {
      val tk = Tables.load(s, dir, "documents").select(split(col("text"), " ").as("tk"))
      val uni = tk.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val tot = uni.agg(sum("n").as("t"))
      val big = tk.select(explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .otherwise(array())).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 30)
        .withColumn("wa", split(col("bg"), " ")(0))
        .withColumn("wb", split(col("bg"), " ")(1))
      val lift = col("n_ab").cast("double") * col("t") / (col("n_a") * col("n_b"))
      big
        .join(uni.select(col("w").as("wa"), col("n").as("n_a")), "wa")
        .join(uni.select(col("w").as("wb"), col("n").as("n_b")), "wb")
        .crossJoin(broadcast(tot))
        .select(col("bg").as("bigram"), col("n_ab"), col("n_a"), col("n_b"),
          lift.as("lift"))
        .orderBy(lift.desc, col("bigram"))
        .limit(20)
    },
    Some("""WITH tok AS (SELECT string_split(text,' ') AS tk FROM documents),
      uni AS (SELECT w, CAST(count(*) AS BIGINT) n
              FROM (SELECT unnest(tk) w FROM tok) GROUP BY w),
      tot AS (SELECT CAST(sum(n) AS BIGINT) t FROM uni),
      big AS (
        SELECT bg, CAST(count(*) AS BIGINT) n_ab FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
          FROM tok) GROUP BY bg),
      parts AS (
        SELECT bg, n_ab, string_split(bg, ' ')[1] AS wa, string_split(bg, ' ')[2] AS wb
        FROM big WHERE n_ab >= 30)
      SELECT bg AS bigram, n_ab, ua.n AS n_a, ub.n AS n_b,
        CAST(n_ab AS DOUBLE) * t / (ua.n * ub.n) AS lift
      FROM parts JOIN uni ua ON wa = ua.w JOIN uni ub ON wb = ub.w, tot
      ORDER BY CAST(n_ab AS DOUBLE) * t / (ua.n * ub.n) DESC, bigram LIMIT 20"""),
    covers = Seq("T-collocation"))

  // ------------------------------------------- deterministic stratified split
  // Hash-stratified train/val/test split (~80/10/10 on the first md5
  // byte) — the reproducible split every training pipeline needs:
  // membership depends only on the key, so re-runs, late data, and
  // distributed execution all land rows in the same bucket. Gate
  // checks per-(class, split) counts and mass.
  private val q142 = QueryDef(
    "q142_stratified_split",
    (s, dir) => {
      val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
      Tables.load(s, dir, "orders")
        .withColumn("split",
          when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
        .groupBy("o_orderpriority", "split")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("mass"))
        .orderBy("o_orderpriority", "split")
    },
    Some("""WITH s AS (
        SELECT o_orderpriority, o_totalprice, CASE
          WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
          WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
          ELSE 'test' END AS split
        FROM orders)
      SELECT o_orderpriority, split, CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mass
      FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("SAMPLE-stratified"))

  // ------------------------------------------- z-score standardization
  // Per-group feature standardization (the ML-prep transform): mean
  // and population variance derive from exact DECIMAL power sums
  // (Σq is 2-decimal, Σq² 4-decimal — both exact), so the moments
  // are independent of partial-aggregation order; the float work is
  // one shared tree of correctly-rounded IEEE ops (÷, ·, sqrt),
  // bit-identical in any engine. Two passes over the fact (moments,
  // then the standardizing join) — the broadcast of per-group
  // moments is O(groups), never data-sized.
  private val q184 = QueryDef(
    "q184_zscore",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast(DecimalType(18, 2)).as("q"))
      val m = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("s"),
          sum((col("q") * col("q")).cast(DecimalType(38, 4))).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s").cast("double") / col("n").cast("double")).as("mean"),
          sqrt(
            ((col("n") * col("s2") - (col("s") * col("s")).cast(DecimalType(38, 4)))
              .cast("double")) /
              (col("n") * col("n")).cast("double")).as("std"))
      li.filter(col("l_orderkey") % 500 === 0)
        .join(broadcast(m), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("q").cast("double").as("quantity"),
          ((col("q").cast("double") - col("mean")) / col("std")).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH li AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CAST(l_quantity AS DECIMAL(18,2)) AS q
        FROM lineitem),
      m AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(q) AS s, SUM(CAST(q * q AS DECIMAL(38,4))) AS s2
        FROM li GROUP BY 1),
      mm AS (
        SELECT l_returnflag,
          CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          sqrt(CAST(n * s2 - CAST(s * s AS DECIMAL(38,4)) AS DOUBLE)
               / CAST(n * n AS DOUBLE)) AS std
        FROM m)
      SELECT l_orderkey, l_linenumber, li.l_returnflag,
        CAST(q AS DOUBLE) AS quantity,
        (CAST(q AS DOUBLE) - mean) / std AS z
      FROM li JOIN mm ON li.l_returnflag = mm.l_returnflag
      WHERE l_orderkey % 500 = 0
      ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("ML-standardize"))

  // --------------------------------------------- temperature mixing
  // Multi-source sampling weights at temperature alpha = 1/2:
  // w_i = n_i^alpha / Σ n_j^alpha — the standard upweighting of
  // small sources when mixing corpora. alpha = 1/2 keeps the power
  // inside correctly-rounded IEEE sqrt (a fractional pow() routes
  // through exp/ln, which no two libms round identically — the same
  // reason q158 avoids entropy). The Σ over sources folds an
  // ORDERED list sequentially on both engines (aggregate ↔
  // list_reduce), so even the 5-term double sum is bit-pinned.
  private val q195 = QueryDef(
    "q195_temperature_mix",
    (s, dir) => {
      val c = Tables.load(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w", sqrt(col("n").cast("double")))
      val tot = c.agg(aggregate(
        array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (acc, x) => acc + x("w")).as("tw"))
      c.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(org.apache.spark.sql.expressions.Window
              .partitionBy()).cast("double")).as("raw_share"),
          (col("w") / col("tw")).as("mix_weight"))
        .orderBy("source")
    },
    Some("""WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
        FROM documents GROUP BY 1),
      t AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS tw,
              CAST(SUM(n) AS BIGINT) AS tn FROM c)
      SELECT source, n,
        CAST(n AS DOUBLE) / CAST(tn AS DOUBLE) AS raw_share,
        w / tw AS mix_weight
      FROM c, t ORDER BY source"""),
    covers = Seq("SAMPLE-temperature"))

  // ------------------------------------------------ sequence packing
  // GPT-style fixed-length training-sequence packing: documents
  // concatenate in a deterministic order and cut every 2048 tokens,
  // docs straddling a cut carry into the next sequence (cross-doc
  // attention masking handles the seam downstream). Packing is a
  // running state, so it windows — but over a SHARD (doc_id % 8),
  // never the whole corpus: each shard packs independently in
  // parallel, which is the only shape that survives 100 TB (a global
  // ORDER BY over every document does not). Shard count maps to
  // partition count at scale; determinism comes from the (shard,
  // doc_id) total order, not from task scheduling.
  private val q198 = QueryDef(
    "q198_sequence_packing",
    (s, dir) => {
      val budget = 2048L
      val d = Tables.load(s, dir, "documents").select(
        (col("doc_id") % 8).as("shard"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val placed = d
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("seq_id", expr(s"cum_before div $budget"))
        .withColumn("last_seq", expr(s"(cum_before + n_tok - 1) div $budget"))
      placed.groupBy("shard", "seq_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("last_seq") > col("seq_id"), 1L).otherwise(0L))
            .as("n_straddle"),
          sum(col("n_tok")).as("n_tokens"))
        .orderBy("shard", "seq_id")
    },
    Some("""WITH d AS (
        SELECT doc_id % 8 AS shard, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      placed AS (
        SELECT shard, n_tok,
          CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_before
        FROM d)
      SELECT shard, cum_before // 2048 AS seq_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN (cum_before + n_tok - 1) // 2048 > cum_before // 2048
          THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM placed GROUP BY 1, 2 ORDER BY shard, seq_id"""),
    covers = Seq("TRAIN-seq-packing"))

  // ------------------------------------------- rank-uniform normalization
  // Quantile (rank-uniform) normalization of a feature — the ML
  // preprocessing step that maps any distribution onto Uniform(0,1)
  // regardless of its shape, where z-scores (q184) assume
  // Gaussian-ish tails. Per label, each vector's L2 norm (the q55
  // sequential-fold tree, bit-identical across engines) gets its
  // within-label rank; u = (2·rank − 1) / (2·n) is the midpoint
  // plotting position — exact integers until ONE division. vec_id
  // tiebreaks make ranks total even under float-equal norms. One
  // partitioned window pass; at 100 TB the per-label sort shards by
  // label exactly like q159's equi-depth histogram.
  private val q245 = QueryDef(
    "q245_rank_uniform",
    (s, dir) => {
      val l2 = sqrt(aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      val w = Window.partitionBy("label").orderBy(col("l2"), col("vec_id"))
      val n = Window.partitionBy("label")
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), l2.as("l2"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(n))
        .select(col("vec_id"), col("label"), col("l2"), col("rank"),
          ((col("rank") * 2 - 1).cast("double") / (col("n") * 2).cast("double"))
            .as("u"))
        .orderBy("vec_id")
    },
    Some("""WITH n AS (
        SELECT vec_id, label,
          sqrt(list_sum(list_transform(list_zip(embedding, embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS l2
        FROM embeddings),
      r AS (
        SELECT vec_id, label, l2,
          CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY l2, vec_id)
            AS BIGINT) AS rank,
          COUNT(*) OVER (PARTITION BY label) AS n
        FROM n)
      SELECT vec_id, label, l2, rank,
        CAST(rank * 2 - 1 AS DOUBLE) / CAST(n * 2 AS DOUBLE) AS u
      FROM r ORDER BY vec_id"""),
    covers = Seq("ML-rank-uniform"))

  // ------------------------------------------------- k-anonymity audit
  // Privacy gate for training-data release: bucket documents by their
  // quasi-identifier tuple (lang, source, length-centile bucket) and
  // count how many docs sit in groups smaller than k=5 — those rows
  // re-identify and must be suppressed or generalized before the
  // corpus ships. Two cascaded exact-count aggregates (group sizes,
  // then per-(lang, source) suppression tallies) — map-side combined,
  // no joins, integer end to end. The same shape audits ANY release
  // k: only the `< 5` literal changes.
  private val q264 = QueryDef(
    "q264_k_anonymity",
    (s, dir) => {
      val groups = Tables.load(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("n"))
      groups.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_docs"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("suppressed_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("suppressed_docs"))
        .withColumn("kept_docs", col("n_docs") - col("suppressed_docs"))
        .orderBy("lang", "source")
    },
    Some("""WITH groups AS (
        SELECT lang, source, n_chars // 100 AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2, 3)
      SELECT lang, source,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(n) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS suppressed_groups,
        CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS suppressed_docs,
        CAST(SUM(n) AS BIGINT)
          - CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS kept_docs
      FROM groups GROUP BY 1, 2 ORDER BY lang, source"""),
    covers = Seq("PRIV-k-anon"))

  // ------------------------------------------------- target encoding
  // Smoothed mean-target encoding of a categorical feature: each
  // market segment encodes as (Σy + m·prior)/(n + m) with m = 10 and
  // the global mean as prior — the leakage-resistant categorical
  // encoder of gradient-boosting pipelines. The prior is itself a
  // ratio, so the encode is computed from the EXACT common-denominator
  // form (Σy·N + m·S)/(N·(n + m)): DECIMAL(38,2) products of exact
  // sums, ONE closing division. Per-category aggregation is one
  // map-side-combined shuffle; the global scalar broadcasts.
  private val q280 = QueryDef(
    "q280_target_encoding",
    (s, dir) => {
      val d38 = DecimalType(38, 2)
      val o = Tables.load(s, dir, "orders").join(
        Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      val per = o.groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sy"))
      val glob = per.agg(sum(col("n")).as("nn"),
        sum(col("sy")).cast(d38).as("ss"))
      per.crossJoin(broadcast(glob))
        .select(col("segment"), col("n"),
          (col("sy").cast("double") / col("n").cast("double")).as("raw_mean"),
          ((col("sy").cast(d38) * col("nn") + lit(10L) * col("ss"))
            .cast("double") /
            (col("nn") * (col("n") + lit(10L))).cast("double"))
            .as("encoded"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(o_totalprice AS DECIMAL(18,2)) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      per AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(y) AS sy FROM o GROUP BY 1),
      g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(sy) AS DECIMAL(38,2)) AS ss FROM per)
      SELECT segment, n,
        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean,
        CAST(CAST(sy AS DECIMAL(38,2)) * nn + 10 * ss AS DOUBLE)
          / CAST(nn * (n + 10) AS DOUBLE) AS encoded
      FROM per CROSS JOIN g ORDER BY segment"""),
    covers = Seq("ML-target-encoding"))

  // ------------------------------------------------- decile lift
  // Gains/lift table — THE model-evaluation artifact for ranked
  // targeting: sort customers by a score (account balance as the
  // stand-in model output), cut into score deciles, and measure how
  // fast the positives (customers with a finalized order) accumulate
  // vs random. Deciles come from NTILE(10) over a TOTAL order
  // (score DESC, custkey); capture and lift close as single divisions
  // of exact long products ((cum_pos·N)/(cum_n·P) — never a ratio of
  // ratios). The label join aggregates orders per customer first, so
  // the fact scan is one map-side-combined pass.
  private val q284 = QueryDef(
    "q284_decile_lift",
    (s, dir) => {
      val labels = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("label"))
      val scored = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .join(labels, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("label"), lit(0L)).as("label"))
      val dec = scored.withColumn("decile",
        ntile(10).over(Window.orderBy(desc("c_acctbal"), asc("c_custkey")))
          .cast("long"))
      val per = dec.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      per
        .withColumn("cum_n", sum(col("n")).over(wCum))
        .withColumn("cum_pos", sum(col("pos")).over(wCum))
        .withColumn("tot_n", sum(col("n")).over(tot))
        .withColumn("tot_pos", sum(col("pos")).over(tot))
        .select(col("decile"), col("n"), col("pos"),
          (col("cum_pos").cast("double") / col("tot_pos").cast("double"))
            .as("capture"),
          ((col("cum_pos") * col("tot_n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double")).as("lift"))
        .orderBy("decile")
    },
    Some("""WITH labels AS (SELECT o_custkey,
          CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS label
        FROM orders GROUP BY 1),
      scored AS (SELECT c_custkey, c_acctbal,
          COALESCE(label, 0) AS label
        FROM customer LEFT JOIN labels ON c_custkey = o_custkey),
      dec AS (SELECT *,
          CAST(NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
            AS BIGINT) AS decile
        FROM scored),
      per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(label) AS BIGINT) AS pos
        FROM dec GROUP BY 1),
      cum AS (SELECT *,
          CAST(SUM(n) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_n,
          CAST(SUM(pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_pos,
          CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
          CAST(SUM(pos) OVER () AS BIGINT) AS tot_pos
        FROM per)
      SELECT decile, n, pos,
        CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS capture,
        CAST(cum_pos * tot_n AS DOUBLE) / CAST(cum_n * tot_pos AS DOUBLE)
          AS lift
      FROM cum ORDER BY decile"""),
    covers = Seq("ML-lift"))

  // ------------------------------------------------- temporal split
  // Time-based train/val/test split of the event log (days ≤20 /
  // 21–25 / ≥26) with the audit an eval pipeline needs next to it:
  // how many of each split's USERS also appear in train — the entity
  // leakage that silently inflates offline metrics when models
  // memorize users across the boundary. (q142 splits by hash —
  // entity-disjoint by construction; a TEMPORAL split must measure
  // its leakage instead.) One pass tags splits, distinct (split,
  // user) pairs aggregate per split, and the train-user set
  // left-semi-joins back — counts exact, the share is one division.
  private val q290 = QueryDef(
    "q290_temporal_split",
    (s, dir) => {
      val tagged = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          dayofmonth(to_date(col("ts"))).as("dom"))
        .withColumn("split",
          when(col("dom") <= 20, "train")
            .when(col("dom") <= 25, "val")
            .otherwise("test"))
      val perSplit = tagged.groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      val splitUsers = tagged.select("split", "user_id").distinct()
      val trainUsers = splitUsers.filter(col("split") === "train")
        .select(col("user_id"))
      val overlap = splitUsers
        .join(trainUsers, Seq("user_id"), "left_semi")
        .groupBy("split").agg(count(lit(1)).as("train_overlap_users"))
      perSplit.join(overlap, Seq("split"), "left")
        .withColumn("train_overlap_users",
          coalesce(col("train_overlap_users"), lit(0L)))
        .select(col("split"), col("n_events"), col("n_users"),
          col("train_overlap_users"),
          (col("train_overlap_users").cast("double") /
            col("n_users").cast("double")).as("overlap_share"))
        .orderBy("split")
    },
    Some("""WITH tagged AS (SELECT user_id, event_id,
          CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 20 THEN 'train'
               WHEN dayofmonth(CAST(ts AS DATE)) <= 25 THEN 'val'
               ELSE 'test' END AS split
        FROM events),
      per_split AS (SELECT split,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tagged GROUP BY 1),
      split_users AS (SELECT DISTINCT split, user_id FROM tagged),
      overlap AS (SELECT s.split,
          CAST(COUNT(*) AS BIGINT) AS train_overlap_users
        FROM split_users s
        WHERE EXISTS (SELECT 1 FROM split_users tr
                      WHERE tr.split = 'train' AND tr.user_id = s.user_id)
        GROUP BY 1)
      SELECT p.split, p.n_events, p.n_users,
        COALESCE(o.train_overlap_users, 0) AS train_overlap_users,
        CAST(COALESCE(o.train_overlap_users, 0) AS DOUBLE)
          / CAST(p.n_users AS DOUBLE) AS overlap_share
      FROM per_split p LEFT JOIN overlap o ON p.split = o.split
      ORDER BY p.split"""),
    covers = Seq("ML-temporal-split"))

  // ------------------------------------------------- l-diversity
  // k-anonymity (q264) says how many rows share a quasi-identifier;
  // l-diversity says how many DISTINCT sensitive values hide inside
  // each group — a k-anonymous group whose members all share one
  // source still leaks it. Quasi-id = (lang, 200-char length band),
  // sensitive = source; flags groups failing k<5 or l<3. One groupBy,
  // countDistinct inside it — a single shuffle at any scale.
  private val q309 = QueryDef(
    "q309_l_diversity",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("lang"), expr("n_chars DIV 200").as("len_band"),
          col("source"))
        .groupBy("lang", "len_band")
        .agg(count(lit(1)).as("k_size"),
          countDistinct(col("source")).as("l_div"))
        .withColumn("at_risk", col("k_size") < 5 || col("l_div") < 3)
        .orderBy("lang", "len_band")
    },
    Some("""SELECT lang, n_chars // 200 AS len_band,
        CAST(COUNT(*) AS BIGINT) AS k_size,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS l_div,
        (COUNT(*) < 5 OR COUNT(DISTINCT source) < 3) AS at_risk
      FROM documents
      GROUP BY lang, len_band
      ORDER BY lang, len_band"""),
    covers = Seq("PRIV-l-diversity"))

  // ------------------------------------------------- mixture reweighting
  // The downsample-only plan to a uniform source mixture: per source
  // its actual share, the keep-probability multiplier min(1, target/
  // actual), and the integral kept-count floor(N²/(S·n)) — computed
  // with DECIMAL(38,0)/HUGEINT integral division so N² stays exact
  // past int64 (10¹² docs). Two aggregates and a broadcast scalar —
  // no per-row work at all.
  private val q310 = QueryDef(
    "q310_mixture_reweight",
    (s, dir) => {
      val per = Tables.load(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum(col("n_docs")).as("nn"), count(lit(1)).as("ss"))
      per.crossJoin(broadcast(tot))
        .selectExpr(
          "source", "n_docs",
          "CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS share",
          "LEAST(CAST(1 AS DOUBLE), (CAST(1 AS DOUBLE) / CAST(ss AS DOUBLE))" +
            " / (CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE))) AS multiplier",
          "LEAST(n_docs, (CAST(nn AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0)))" +
            " DIV (CAST(ss AS DECIMAL(38,0)) * CAST(n_docs AS DECIMAL(38,0))))" +
            " AS kept")
        .orderBy("source")
    },
    Some("""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
          CAST(COUNT(*) AS BIGINT) AS ss FROM per)
      SELECT source, n_docs,
        CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS share,
        LEAST(CAST(1 AS DOUBLE), (CAST(1 AS DOUBLE) / CAST(ss AS DOUBLE))
          / (CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE))) AS multiplier,
        LEAST(n_docs, CAST((CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT))
          // (CAST(ss AS HUGEINT) * CAST(n_docs AS HUGEINT)) AS BIGINT)) AS kept
      FROM per, tot
      ORDER BY source"""),
    covers = Seq("MIX-reweight"))

  // ------------------------------------------------- A/B split balance
  // Sample-ratio-mismatch audit for a deterministic md5-parity
  // experiment split of the corpus: arm sizes with the chi-square
  // statistic against 50/50, plus per-arm mean length — the balance
  // check run before trusting any experiment readout. All counts
  // exact; chi² = (a−b)²/(a+b) over exact longs.
  private val q346 = QueryDef(
    "q346_ab_srm_check",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("arm",
          (conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast(LongType) % 2).cast(LongType))
      val g = d.groupBy("arm")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("schars"))
      val wide = g.agg(
        sum(when(col("arm") === 0, col("n_docs")).otherwise(0L)).as("a"),
        sum(when(col("arm") === 1, col("n_docs")).otherwise(0L)).as("b"),
        sum(when(col("arm") === 0, col("schars")).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, col("schars")).otherwise(0L)).as("cb"))
      wide.select(col("a").as("arm_a"), col("b").as("arm_b"),
        (((col("a") - col("b")) * (col("a") - col("b"))).cast("double") /
          (col("a") + col("b")).cast("double")).as("srm_chi2"),
        (col("ca").cast("double") / col("a").cast("double"))
          .as("mean_chars_a"),
        (col("cb").cast("double") / col("b").cast("double"))
          .as("mean_chars_b"))
    },
    Some("""WITH d AS (SELECT n_chars,
          CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 2
            AS BIGINT) AS arm
        FROM documents),
      g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS schars
        FROM d GROUP BY arm),
      wide AS (SELECT
          CAST(SUM(CASE WHEN arm = 0 THEN n_docs ELSE 0 END) AS BIGINT) AS a,
          CAST(SUM(CASE WHEN arm = 1 THEN n_docs ELSE 0 END) AS BIGINT) AS b,
          CAST(SUM(CASE WHEN arm = 0 THEN schars ELSE 0 END) AS BIGINT)
            AS ca,
          CAST(SUM(CASE WHEN arm = 1 THEN schars ELSE 0 END) AS BIGINT)
            AS cb
        FROM g)
      SELECT a AS arm_a, b AS arm_b,
        CAST((a - b) * (a - b) AS DOUBLE) / CAST(a + b AS DOUBLE)
          AS srm_chi2,
        CAST(ca AS DOUBLE) / CAST(a AS DOUBLE) AS mean_chars_a,
        CAST(cb AS DOUBLE) / CAST(b AS DOUBLE) AS mean_chars_b
      FROM wide"""),
    covers = Seq("SAMPLE-srm"))

  // ------------------------------------------------- Neyman allocation
  // Survey-sampling design: allocate a 1000-doc inspection budget
  // across sources proportional to N_h·s_h (Neyman). Strata moments
  // are exact longs; s_h is one sqrt over them, and the weight
  // normalizer folds in fixed source order (the q302 pattern) so the
  // shares are partition-independent. Allocations floor to integers.
  private val q354 = QueryDef(
    "q354_neyman_allocation",
    (s, dir) => {
      val g = Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
        .withColumn("sd", sqrt(
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("n").cast("double"))))
        .withColumn("w", col("n").cast("double") * col("sd"))
      val tot = g.agg(
        aggregate(sort_array(collect_list(struct(col("source"), col("w")))),
          lit(0.0d), (a, x) => a + x.getField("w")).as("sw"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("n").as("n_docs"), col("sd"),
          (col("w") / col("sw")).as("alloc_share"),
          floor(lit(1000.0d) * (col("w") / col("sw"))).cast(LongType)
            .as("alloc_n"))
        .orderBy("source")
    },
    Some("""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS sx,
          CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      w AS (SELECT source, n,
          sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd,
          CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS w
        FROM g),
      tot AS (SELECT CAST(0 AS DOUBLE) + list_reduce(
          list(w ORDER BY source), (a, b) -> a + b) AS sw FROM w)
      SELECT source, n AS n_docs, sd,
        w / sw AS alloc_share,
        CAST(floor(CAST(1000 AS DOUBLE) * (w / sw)) AS BIGINT) AS alloc_n
      FROM w, tot
      ORDER BY source"""),
    covers = Seq("SAMPLE-neyman"))

  // ------------------------------------------------- water-filling
  // Token-budget mixture plan: cap every source at a common level t
  // so the kept corpus hits a 50% token budget — the water-filling
  // allocation behind "no source may dominate the mix". The
  // crossing source is found by the exact integer comparison
  // tok·(n−rn+1) > B − cum_before on the ascending-size order, so
  // the level t = (B − cum_before*)/(n − rn* + 1) is the only
  // division in the plan. Everything is |sources|-sized after one
  // token-count aggregate.
  private val q447 = QueryDef(
    "q447_token_budget_waterfill",
    (s, dir) => {
      val tok = Tables.load(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).as("ntok"))
        .groupBy("source").agg(sum(col("ntok").cast(LongType)).as("tok"))
      val w = Window.orderBy(col("tok"), col("source"))
      val ranked = tok
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("cum", sum("tok").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_before", col("cum") - col("tok"))
      val tot = tok.agg(sum("tok").as("total"), count(lit(1)).as("n"))
        .withColumn("budget", expr("total DIV 2"))
      val flagged = ranked.crossJoin(broadcast(tot))
        .withColumn("capped_here",
          col("tok") * (col("n") - col("rn") + 1L) >
            col("budget") - col("cum_before"))
      val star = flagged.filter(col("capped_here"))
        .agg(min("rn").as("rn_star"))
      val level = flagged.join(broadcast(star),
          col("rn") === col("rn_star"))
        .select(col("rn_star"),
          ((col("budget") - col("cum_before")).cast("double") /
            (col("n") - col("rn_star") + 1L).cast("double")).as("t_level"))
      flagged.crossJoin(broadcast(level))
        .withColumn("capped", col("rn") >= col("rn_star"))
        .select(col("source"), col("tok").as("tokens"), col("capped"),
          when(col("capped"), col("t_level"))
            .otherwise(col("tok").cast("double")).as("kept"),
          (when(col("capped"), col("t_level"))
            .otherwise(col("tok").cast("double")) /
            col("tok").cast("double")).as("kept_share"))
        .orderBy("source")
    },
    Some("""WITH tok AS (SELECT source,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY source),
      ranked AS (SELECT source, tok,
          CAST(row_number() OVER (ORDER BY tok, source) AS BIGINT) AS rn,
          CAST(SUM(tok) OVER (ORDER BY tok, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM tok),
      tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS total,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(tok) // 2 AS BIGINT) AS budget
        FROM tok),
      flagged AS (SELECT r.source, r.tok, r.rn, r.cum - r.tok AS cum_before,
          t.n, t.budget,
          (r.tok * (t.n - r.rn + 1) > t.budget - (r.cum - r.tok))
            AS capped_here
        FROM ranked r CROSS JOIN tot t),
      star AS (SELECT MIN(rn) AS rn_star FROM flagged WHERE capped_here),
      lvl AS (SELECT s.rn_star,
          CAST(f.budget - f.cum_before AS DOUBLE) /
            CAST(f.n - s.rn_star + 1 AS DOUBLE) AS t_level
        FROM flagged f JOIN star s ON f.rn = s.rn_star)
      SELECT f.source, f.tok AS tokens, (f.rn >= l.rn_star) AS capped,
        CASE WHEN f.rn >= l.rn_star THEN l.t_level
          ELSE CAST(f.tok AS DOUBLE) END AS kept,
        CASE WHEN f.rn >= l.rn_star THEN l.t_level
          ELSE CAST(f.tok AS DOUBLE) END / CAST(f.tok AS DOUBLE)
          AS kept_share
      FROM flagged f CROSS JOIN lvl l ORDER BY f.source"""),
    covers = Seq("LLM-waterfill-budget"))

  // ------------------------------------------------- decision stump
  // Best single split of part size predicting an urgent order — the
  // one-level decision tree, scored by weighted Gini impurity. Split
  // candidates collapse to |distinct sizes| cumulative-count rows
  // (never per-row work after the first aggregate); each split's
  // impurity is the two-term sum 2kL(nL−kL)/nL + 2kR(nR−kR)/nR over
  // exact counts, identical trees both engines. Top-5 by (impurity,
  // size).
  private val q448 = QueryDef(
    "q448_decision_stump",
    (s, dir) => {
      val rows = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(Tables.load(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          (col("o_orderpriority") === "1-URGENT").as("y")), Seq("l_orderkey"))
        .join(Tables.load(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          col("p_size")), Seq("l_partkey"))
      val bySize = rows.groupBy("p_size")
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("y"), 1L).otherwise(0L)).as("k_s"))
      val w = Window.orderBy("p_size")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = bySize.agg(sum("n_s").as("n"), sum("k_s").as("k"))
      val splits = bySize
        .withColumn("nl", sum("n_s").over(w))
        .withColumn("kl", sum("k_s").over(w))
        .crossJoin(broadcast(tot))
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("kr", col("k") - col("kl"))
        .filter(col("nr") > 0)
        .withColumn("wgini",
          ((lit(2L) * col("kl") * (col("nl") - col("kl"))).cast("double") /
            col("nl").cast("double") +
          (lit(2L) * col("kr") * (col("nr") - col("kr"))).cast("double") /
            col("nr").cast("double")) / col("n").cast("double"))
        .withColumn("gain",
          (lit(2L) * col("k") * (col("n") - col("k"))).cast("double") /
            (col("n") * col("n")).cast("double") - col("wgini"))
      val wr = Window.orderBy(col("wgini"), col("p_size"))
      splits.withColumn("rnk", row_number().over(wr).cast(LongType))
        .filter(col("rnk") <= 5)
        .select(col("rnk"), col("p_size").cast(LongType).as("split_size"),
          col("nl"), col("kl"), col("nr"), col("kr"),
          col("wgini"), col("gain"))
        .orderBy("rnk")
    },
    Some("""WITH rows_ AS (SELECT p.p_size,
          (o.o_orderpriority = '1-URGENT') AS y
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey),
      by_size AS (SELECT p_size, CAST(COUNT(*) AS BIGINT) AS n_s,
          CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS k_s
        FROM rows_ GROUP BY p_size),
      tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n,
          CAST(SUM(k_s) AS BIGINT) AS k FROM by_size),
      splits AS (SELECT b.p_size,
          CAST(SUM(n_s) OVER (ORDER BY p_size
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS nl,
          CAST(SUM(k_s) OVER (ORDER BY p_size
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS kl,
          t.n, t.k
        FROM by_size b CROSS JOIN tot t),
      scored AS (SELECT p_size, nl, kl, n - nl AS nr, k - kl AS kr, n, k,
          (CAST(2 * kl * (nl - kl) AS DOUBLE) / CAST(nl AS DOUBLE) +
           CAST(2 * (k - kl) * ((n - nl) - (k - kl)) AS DOUBLE) /
             CAST(n - nl AS DOUBLE)) / CAST(n AS DOUBLE) AS wgini
        FROM splits WHERE n - nl > 0),
      ranked AS (SELECT p_size, nl, kl, nr, kr, wgini,
          CAST(2 * k * (n - k) AS DOUBLE) / CAST(n * n AS DOUBLE)
            - wgini AS gain,
          CAST(row_number() OVER (ORDER BY wgini, p_size) AS BIGINT)
            AS rnk
        FROM scored)
      SELECT rnk, CAST(p_size AS BIGINT) AS split_size,
        nl, kl, nr, kr, wgini, gain
      FROM ranked WHERE rnk <= 5 ORDER BY rnk"""),
    covers = Seq("ML-decision-stump"))

  // ------------------------------------------------- rec hit rate
  // Offline evaluation of the "customers also bought" model: for
  // every part occurrence in a TEST order (1999+), a hit when any
  // OTHER part of that order is in the part's top-3 train-period
  // rec list. Hit-rate and the co-visitation base rate are exact
  // count ratios — the leakage-free eval loop of an item-item
  // recommender, end to end in one plan.
  private val q463 = QueryDef(
    "q463_item_item_hitrate",
    (s, dir) => {
      val testOrders = Tables.load(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) >=
          lit("1999-01-01").cast(DateType))
        .select(col("o_orderkey"))
      // session-cached like recs: the test-period order-part frame
      // feeds the opportunity count, the hit join, and all three
      // bench executions
      val top = GraphGateSource.cached(s, "test-op:" + dir)(
        Tables.load(s, dir, "lineitem")
          .join(testOrders, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct())
      val multi = top.groupBy("o").agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2).select("o")
      val opp = top.join(multi, Seq("o"))
      val hits = opp.as("x")
        .join(recs(s, dir), col("x.p") === col("part"))
        .join(top.as("y"),
          col("x.o") === col("y.o") && col("rec") === col("y.p"))
        .select(col("x.o").as("o"), col("x.p").as("p"))
        .distinct()
      opp.agg(count(lit(1)).as("n_opportunities"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_opportunities"), col("n_hits"),
          (col("n_hits").cast("double") /
            col("n_opportunities").cast("double")).as("hit_rate"))
    },
    Some(s"""WITH $recsSql,
      test_o AS (SELECT o_orderkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'),
      topt AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o,
          l.l_partkey AS p
        FROM lineitem l JOIN test_o t ON t.o_orderkey = l.l_orderkey),
      multi AS (SELECT o FROM topt GROUP BY o HAVING COUNT(*) >= 2),
      opp AS MATERIALIZED (SELECT x.o, x.p FROM topt x
        JOIN multi m ON m.o = x.o),
      hits AS (SELECT DISTINCT x.o, x.p
        FROM opp x JOIN recs r ON r.part = x.p
        JOIN topt y ON y.o = x.o AND y.p = r.rec)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM opp)
          AS n_opportunities,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
        CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM opp) AS DOUBLE) AS hit_rate"""),
    covers = Seq("ML-rec-hitrate"))

  // ------------------------------------------------- rec coverage
  // Health of the rec model itself: catalog coverage (share of parts
  // ever recommended), share of parts with a full 3-slot list, and
  // brand diversity (lists whose 3 recs span ≥2 brands). A high
  // hit-rate with low coverage is a popularity trap — this is the
  // audit that catches it.
  private val q466 = QueryDef(
    "q466_rec_coverage",
    (s, dir) => {
      // recs is already session-checkpointed (GraphGateSource.cached)
      val r = recs(s, dir)
      val brands = Tables.load(s, dir, "part")
        .select(col("p_partkey").as("rec"), col("p_brand"))
      val nParts = Tables.load(s, dir, "part").agg(count(lit(1)).as("n_parts"))
      val perList = r.join(broadcast(brands), Seq("rec"))
        .groupBy("part")
        .agg(count(lit(1)).as("n_recs"),
          countDistinct("p_brand").as("n_brands"))
      val distinctRec = r.select("rec").distinct()
        .agg(count(lit(1)).as("n_recommended"))
      perList.agg(count(lit(1)).as("n_lists"),
          sum(when(col("n_recs") === 3, 1L).otherwise(0L)).as("n_full"),
          sum(when(col("n_brands") >= 2, 1L).otherwise(0L))
            .as("n_diverse"))
        .crossJoin(distinctRec).crossJoin(nParts)
        .select(col("n_lists"), col("n_full"), col("n_diverse"),
          col("n_recommended"), col("n_parts"),
          (col("n_recommended").cast("double") /
            col("n_parts").cast("double")).as("coverage"),
          (col("n_diverse").cast("double") / col("n_lists").cast("double"))
            .as("diversity"))
    },
    Some(s"""WITH $recsSql,
      brands AS (SELECT p_partkey AS rec, p_brand FROM part),
      per_list AS (SELECT r.part, CAST(COUNT(*) AS BIGINT) AS n_recs,
          CAST(COUNT(DISTINCT b.p_brand) AS BIGINT) AS n_brands
        FROM recs r JOIN brands b ON b.rec = r.rec
        GROUP BY r.part)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_lists,
        CAST(COUNT(*) FILTER (WHERE n_recs = 3) AS BIGINT) AS n_full,
        CAST(COUNT(*) FILTER (WHERE n_brands >= 2) AS BIGINT)
          AS n_diverse,
        (SELECT CAST(COUNT(DISTINCT rec) AS BIGINT) FROM recs)
          AS n_recommended,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM part) AS n_parts,
        CAST((SELECT COUNT(DISTINCT rec) FROM recs) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM part) AS DOUBLE) AS coverage,
        CAST(COUNT(*) FILTER (WHERE n_brands >= 2) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS diversity
      FROM per_list"""),
    covers = Seq("ML-rec-coverage"))

  // ------------------------------------------------- cold start
  // Catalog cold-start exposure: test-period (1999+) orders touching
  // parts never sold in the train period — order share and revenue
  // share at exact scale-4 cents. The census that decides whether a
  // co-purchase model (q463) can serve the live traffic at all.
  private val q465 = QueryDef(
    "q465_cold_start_census",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          (to_date(col("o_orderdate")) < lit("1999-01-01").cast(DateType))
            .as("is_train"))
      val li = Tables.load(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("is_train"),
          ((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))) * 10000)
            .cast(LongType).as("rev4"))
      val seen = li.filter(col("is_train"))
        .select(col("l_partkey")).distinct()
      val test = li.filter(!col("is_train"))
        .join(seen.withColumn("seen", lit(true)), Seq("l_partkey"), "left")
        .withColumn("cold", col("seen").isNull)
      val perOrder = test.groupBy("l_orderkey")
        .agg(max(when(col("cold"), 1L).otherwise(0L)).as("has_cold"))
      perOrder.agg(count(lit(1)).as("n_test_orders"),
          sum("has_cold").as("n_cold_orders"))
        .crossJoin(test.agg(sum("rev4").as("rev_total"),
          sum(when(col("cold"), col("rev4")).otherwise(0L))
            .as("rev_cold")))
        .select(col("n_test_orders"), col("n_cold_orders"),
          (col("n_cold_orders").cast("double") /
            col("n_test_orders").cast("double")).as("cold_order_share"),
          col("rev_cold"), col("rev_total"),
          (col("rev_cold").cast("double") / col("rev_total").cast("double"))
            .as("cold_rev_share"))
    },
    Some("""WITH o AS (SELECT o_orderkey,
          (CAST(o_orderdate AS DATE) < DATE '1999-01-01') AS is_train
        FROM orders),
      li AS (SELECT l.l_orderkey, l.l_partkey, o.is_train,
          CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) -
              CAST(l.l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
            AS rev4
        FROM lineitem l JOIN o ON o.o_orderkey = l.l_orderkey),
      seen AS (SELECT DISTINCT l_partkey FROM li WHERE is_train),
      test AS (SELECT li.l_orderkey, li.rev4,
          (s.l_partkey IS NULL) AS cold
        FROM li LEFT JOIN seen s ON s.l_partkey = li.l_partkey
        WHERE NOT li.is_train),
      per_order AS (SELECT l_orderkey,
          CAST(MAX(CASE WHEN cold THEN 1 ELSE 0 END) AS BIGINT)
            AS has_cold
        FROM test GROUP BY 1)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_order)
          AS n_test_orders,
        (SELECT CAST(SUM(has_cold) AS BIGINT) FROM per_order)
          AS n_cold_orders,
        CAST((SELECT SUM(has_cold) FROM per_order) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM per_order) AS DOUBLE)
          AS cold_order_share,
        CAST(SUM(CASE WHEN cold THEN rev4 ELSE 0 END) AS BIGINT)
          AS rev_cold,
        CAST(SUM(rev4) AS BIGINT) AS rev_total,
        CAST(SUM(CASE WHEN cold THEN rev4 ELSE 0 END) AS DOUBLE) /
          CAST(SUM(rev4) AS DOUBLE) AS cold_rev_share
      FROM test"""),
    covers = Seq("ML-cold-start"))

  // ------------------------------------------------- k-means Lloyd
  // Two Lloyd iterations from deterministic seeds (vectors 0–3):
  // round 1 assigns on exact integer lattice distances; the updated
  // centroids stay RATIONAL (S_md, n_m), so round-2 distances are
  // the exact numerators Σ(n·q−S)² over n² — compared as identical
  // doubles. Per-cluster inertia keeps a common denominator, so it
  // is one division despite summing member distances. Assignment is
  // map-side against broadcast centroids; the update is one groupBy
  // — the textbook distributed k-means shape.
  private val q467 = QueryDef(
    "q467_kmeans_lloyd",
    (s, dir) => {
      val vd = vdOf(s, dir).localCheckpoint()
      val c0 = vd.filter(col("vec_id") < 4)
        .select(col("vec_id").as("m"), col("d"), col("q").as("c"))
      val d1 = vd.join(broadcast(c0), Seq("d"))
        .groupBy("vec_id", "m")
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
      val w1 = Window.partitionBy("vec_id").orderBy(col("d2"), col("m"))
      val a1 = d1.withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1).select("vec_id", "m")
      val cent1 = vd.join(a1, Seq("vec_id"))
        .groupBy("m", "d")
        .agg(sum("q").as("sm"), count(lit(1)).as("nm"))
        .localCheckpoint()
      val d2 = vd.join(broadcast(cent1), Seq("d"))
        .withColumn("term",
          dec38(col("nm") * col("q") - col("sm")) *
            dec38(col("nm") * col("q") - col("sm")))
        .groupBy("vec_id", "m", "nm")
        .agg(sum("term").as("num"))
        .withColumn("dist2",
          col("num").cast("double") /
            (col("nm") * col("nm")).cast("double"))
      val w2 = Window.partitionBy("vec_id").orderBy(col("dist2"), col("m"))
      val a2 = d2.withColumn("rn", row_number().over(w2))
        .filter(col("rn") === 1)
      val shift = cent1.join(broadcast(c0), Seq("m", "d"))
        .withColumn("sterm",
          dec38(col("sm") - col("nm") * col("c")) *
            dec38(col("sm") - col("nm") * col("c")))
        .groupBy("m")
        .agg(sum("sterm").as("snum"), max("nm").as("nm0"))
        .select(col("m"),
          (sqrt(col("snum").cast("double")) /
            (col("nm0").cast("double") * lit(Q.toDouble))).as("shift"))
      a2.groupBy("m", "nm")
        .agg(count(lit(1)).as("n_members"), sum("num").as("inum"))
        .join(shift, Seq("m"))
        .select(col("m").cast(LongType).as("cluster"), col("n_members"),
          (col("inum").cast("double") /
            ((col("nm") * col("nm")).cast("double") *
              lit((Q * Q).toDouble))).as("inertia"),
          col("shift"))
        .orderBy("cluster")
    },
    Some(s"""WITH $vdSql,
      c0 AS MATERIALIZED (SELECT vec_id AS m, d, q AS c FROM vd
        WHERE vec_id < 4),
      d1 AS MATERIALIZED (SELECT v.vec_id, c.m,
          CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) AS d2
        FROM vd v JOIN c0 c ON c.d = v.d GROUP BY 1, 2),
      a1 AS MATERIALIZED (SELECT vec_id, m FROM (SELECT vec_id, m,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2, m) AS rn
        FROM d1) WHERE rn = 1),
      cent1 AS MATERIALIZED (SELECT a.m, v.d,
          CAST(SUM(v.q) AS BIGINT) AS sm,
          CAST(COUNT(*) AS BIGINT) AS nm
        FROM vd v JOIN a1 a ON a.vec_id = v.vec_id GROUP BY 1, 2),
      d2x AS MATERIALIZED (SELECT v.vec_id, c.m, c.nm,
          SUM(CAST(c.nm * v.q - c.sm AS HUGEINT) *
              CAST(c.nm * v.q - c.sm AS HUGEINT)) AS num
        FROM vd v JOIN cent1 c ON c.d = v.d GROUP BY 1, 2, 3),
      d2d AS (SELECT vec_id, m, nm, num,
          CAST(num AS DOUBLE) / CAST(nm * nm AS DOUBLE) AS dist2
        FROM d2x),
      a2 AS MATERIALIZED (SELECT vec_id, m, nm, num FROM (SELECT
          vec_id, m, nm, num,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist2, m)
            AS rn
        FROM d2d) WHERE rn = 1),
      shift AS (SELECT c.m,
          sqrt(CAST(SUM(CAST(c.sm - c.nm * z.c AS HUGEINT) *
            CAST(c.sm - c.nm * z.c AS HUGEINT)) AS DOUBLE)) /
          (CAST(MAX(c.nm) AS DOUBLE) * 1048576.0) AS shift
        FROM cent1 c JOIN c0 z ON z.m = c.m AND z.d = c.d
        GROUP BY c.m)
      SELECT CAST(a.m AS BIGINT) AS cluster,
        CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(SUM(a.num) AS DOUBLE) /
          (CAST(a.nm * a.nm AS DOUBLE) *
            (1048576.0 * 1048576.0)) AS inertia,
        MAX(s.shift) AS shift
      FROM a2 a JOIN shift s ON s.m = a.m
      GROUP BY a.m, a.nm ORDER BY cluster"""),
    covers = Seq("ML-kmeans-lloyd"))

  // ------------------------------------------------- naive Bayes
  // Multinomial naive Bayes language ID with Laplace smoothing,
  // trained on even doc_ids and evaluated on odd ones, reported as
  // the confusion matrix. The per-class likelihood is a PRODUCT of
  // per-token doubles — folded in token-position order on both
  // engines (aggregate HOF with prior init ≡ list_reduce over a
  // prior-prepended ordered list), so scores are bit-identical and
  // the argmax agrees. Unseen tokens smooth to 1/(tot+V).
  private val q468 = QueryDef(
    "q468_naive_bayes_lang",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // materialized once: three independent broadcast builds (counts,
      // tots, vocab) each re-ran the train-half explode — broadcast
      // sides are separate jobs, so exchange reuse never applies
      val tokTrain = docs.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .localCheckpoint()
      val counts = tokTrain.groupBy(col("lang").as("l"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val tots = tokTrain.groupBy(col("lang").as("l"))
        .agg(count(lit(1)).as("tot"))
      val vocab = tokTrain.select("tok").distinct()
        .agg(count(lit(1)).as("v"))
      val priors = docs.filter(col("doc_id") % 2 === 0)
        .groupBy(col("lang").as("l")).agg(count(lit(1)).as("nd"))
      val nTrain = docs.filter(col("doc_id") % 2 === 0)
        .agg(count(lit(1)).as("ndocs"))
      val test = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val scored = test
        .crossJoin(broadcast(tots))
        .join(broadcast(counts), Seq("l", "tok"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("p",
          (coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
            (col("tot") + col("v")).cast("double"))
        .groupBy("doc_id", "true_lang", "l")
        .agg(sort_array(collect_list(struct(col("pos"), col("p"))))
          .as("ps"))
        .join(broadcast(priors), Seq("l"))
        .crossJoin(broadcast(nTrain))
        .withColumn("score",
          aggregate(col("ps"),
            col("nd").cast("double") / col("ndocs").cast("double"),
            (acc, e) => acc * e.getField("p")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("l"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("true_lang"), col("l").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    },
    Some("""WITH tok_train AS (SELECT lang,
          unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 0),
      counts AS MATERIALIZED (SELECT lang AS l, tok,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM tok_train GROUP BY 1, 2),
      tots AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS tot
        FROM tok_train GROUP BY 1),
      vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        FROM tok_train),
      priors AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nd
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      n_train AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndocs
        FROM documents WHERE doc_id % 2 = 0),
      test AS (SELECT doc_id, lang AS true_lang,
          generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
          unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 1),
      scored AS MATERIALIZED (SELECT t.doc_id, t.true_lang, tt.l,
          list_reduce(
            list_prepend(CAST(p.nd AS DOUBLE) / CAST(nt.ndocs AS DOUBLE),
              list((CAST(COALESCE(c.c, 0) AS DOUBLE) + 1.0) /
                CAST(tt.tot + vb.v AS DOUBLE) ORDER BY t.pos)),
            (a, b) -> a * b) AS score
        FROM test t
        CROSS JOIN tots tt
        LEFT JOIN counts c ON c.l = tt.l AND c.tok = t.tok
        CROSS JOIN vocab vb
        JOIN priors p ON p.l = tt.l
        CROSS JOIN n_train nt
        GROUP BY t.doc_id, t.true_lang, tt.l, p.nd, nt.ndocs,
          tt.tot, vb.v)
      SELECT true_lang, l AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id, true_lang, l,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, l) AS rn
        FROM scored)
      WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("ML-naive-bayes"))

  // ------------------------------------------------- stationary dist
  // Stationary distribution of the event-type Markov chain: exact
  // transition probabilities (int/int divisions on the dense
  // states×states grid), then 8 steps of vP with the matvec folded
  // in from-state order on both engines. Reported against the
  // empirical state share — the "where does the process settle vs
  // where is it now" gap.
  private val q469 = QueryDef(
    "q469_markov_stationary",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("fr"), col("nxt").as("to"))
        .agg(count(lit(1)).as("c"))
      // bounded-collect: distinct event types — a small fixed enum
      val states = ev.select(col("event_type").as("st")).distinct()
        .orderBy("st").collect().map(_.getString(0))
      val idx = states.zipWithIndex.toMap
      val rowTot = trans.groupBy("fr").agg(sum("c").as("rt"))
      val pCells = trans.join(rowTot, Seq("fr"))
        .select(col("fr"), col("to"),
          (col("c").cast("double") / col("rt").cast("double")).as("p"))
        // bounded-collect: states x states transition cells — O(enum²)
        .collect()
      val k = states.length
      val pm = Array.ofDim[Double](k, k)
      pCells.foreach(r =>
        pm(idx(r.getString(0)))(idx(r.getString(1))) = r.getDouble(2))
      var v = Array.fill(k)(1.0 / k)
      for (_ <- 1 to 8)
        v = Array.tabulate(k)(j =>
          (0 until k).map(i => v(i) * pm(i)(j)).reduceLeft(_ + _))
      val emp = ev.groupBy(col("event_type").as("st"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(ev.agg(count(lit(1)).as("nt")))
        .select(col("st"),
          (col("n").cast("double") / col("nt").cast("double"))
            .as("empirical_share"))
      import s.implicits._
      val statDf = states.zip(v).toSeq.toDF("st", "stationary_prob")
      statDf.join(emp, Seq("st"))
        .select(col("st").as("event_type"), col("stationary_prob"),
          col("empirical_share"))
        .orderBy("event_type")
    },
    Some {
      val iters = (1 to 8).map { kk =>
        s"""v$kk AS MATERIALIZED (SELECT p.to_s AS st,
          list_reduce(list(v.v * p.p ORDER BY p.fr_s),
            (a, b) -> a + b) AS v
        FROM pmat p JOIN v${kk - 1} v ON v.st = p.fr_s
        GROUP BY p.to_s)"""
      }.mkString(",\n      ")
      s"""WITH ev AS (SELECT user_id, event_type, ts, event_id
        FROM events),
      trans AS (SELECT event_type AS fr,
          lead(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS t_o
        FROM ev),
      tc AS (SELECT fr, t_o, CAST(COUNT(*) AS BIGINT) AS c
        FROM trans WHERE t_o IS NOT NULL GROUP BY 1, 2),
      states AS (SELECT DISTINCT event_type AS st FROM ev),
      rt AS (SELECT fr, CAST(SUM(c) AS BIGINT) AS rt FROM tc
        GROUP BY fr),
      pmat AS MATERIALIZED (SELECT a.st AS fr_s, b.st AS to_s,
          COALESCE(CAST(tc.c AS DOUBLE) / CAST(rt.rt AS DOUBLE), 0.0)
            AS p
        FROM states a CROSS JOIN states b
        LEFT JOIN tc ON tc.fr = a.st AND tc.t_o = b.st
        LEFT JOIN rt ON rt.fr = a.st),
      nstates AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
      v0 AS (SELECT st, 1.0 / (SELECT CAST(k AS DOUBLE) FROM nstates)
          AS v FROM states),
      $iters,
      emp AS (SELECT event_type AS st, CAST(COUNT(*) AS BIGINT) AS n
        FROM ev GROUP BY 1),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM ev)
      SELECT v8.st AS event_type, v8.v AS stationary_prob,
        CAST(e.n AS DOUBLE) / CAST((SELECT nt FROM nt) AS DOUBLE)
          AS empirical_share
      FROM v8 JOIN emp e ON e.st = v8.st
      ORDER BY event_type"""
    },
    covers = Seq("ML-markov-stationary"))

  // ------------------------------------------------- 2-feature OLS
  // Multiple regression by Cramer's rule: order value on (years
  // since 1995, urgent flag) per segment. All nine normal-equation
  // moments are exact integers; each 3×3 determinant is one
  // HUGEINT/DECIMAL(38,0) polynomial, and each coefficient is ONE
  // double division of two determinants — multivariate OLS with no
  // float accumulation anywhere.
  private val q471 = QueryDef(
    "q471_ols_two_features",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"),
          (year(to_date(col("o_orderdate"))) - 1995).cast(LongType).as("x1"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("x2"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("y"))
      val m = o.groupBy("segment").agg(
        count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      def det(a: Column, b: Column, c: Column,
              d: Column, e: Column, f: Column,
              g: Column, h: Column, i: Column): Column =
        dec38(a) * (dec38(e) * dec38(i) - dec38(f) * dec38(h)) -
          dec38(b) * (dec38(d) * dec38(i) - dec38(f) * dec38(g)) +
          dec38(c) * (dec38(d) * dec38(h) - dec38(e) * dec38(g))
      m.select(col("segment"), col("n"),
          det(col("n"), col("s1"), col("s2"),
            col("s1"), col("s11"), col("s12"),
            col("s2"), col("s12"), col("s22")).as("dd"),
          det(col("sy"), col("s1"), col("s2"),
            col("s1y"), col("s11"), col("s12"),
            col("s2y"), col("s12"), col("s22")).as("d0"),
          det(col("n"), col("sy"), col("s2"),
            col("s1"), col("s1y"), col("s12"),
            col("s2"), col("s2y"), col("s22")).as("d1"),
          det(col("n"), col("s1"), col("sy"),
            col("s1"), col("s11"), col("s1y"),
            col("s2"), col("s12"), col("s2y")).as("d2"))
        .select(col("segment"), col("n"),
          (col("d0").cast("double") / col("dd").cast("double"))
            .as("beta0_cents"),
          (col("d1").cast("double") / col("dd").cast("double"))
            .as("beta1_cents_per_year"),
          (col("d2").cast("double") / col("dd").cast("double"))
            .as("beta2_urgent_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          CAST(year(CAST(o.o_orderdate AS DATE)) - 1995 AS BIGINT) AS x1,
          CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1
            ELSE 0 END AS x2,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      m AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
          CAST(SUM(x1 * x1) AS BIGINT) AS s11,
          CAST(SUM(x1 * x2) AS BIGINT) AS s12,
          CAST(SUM(x2 * x2) AS BIGINT) AS s22,
          CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x1 * y) AS BIGINT) AS s1y,
          CAST(SUM(x2 * y) AS BIGINT) AS s2y
        FROM o GROUP BY segment),
      d AS (SELECT segment, n,
          CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS dd,
          CAST(sy AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2y)
            + CAST(s2 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2y) AS d0,
          CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2y)
            - CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2) AS d1,
          CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2)
            + CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS d2
        FROM m)
      SELECT segment, n,
        CAST(d0 AS DOUBLE) / CAST(dd AS DOUBLE) AS beta0_cents,
        CAST(d1 AS DOUBLE) / CAST(dd AS DOUBLE)
          AS beta1_cents_per_year,
        CAST(d2 AS DOUBLE) / CAST(dd AS DOUBLE) AS beta2_urgent_cents
      FROM d ORDER BY segment"""),
    covers = Seq("ML-ols-two-features"))

  // ------------------------------------------------- DBSCAN census
  // DBSCAN structure census on the embedding lattice (vectors with
  // id < 600): ε² self-tunes to the P5 of pairwise exact squared
  // distances, minPts = 5. Core / border / noise classification and
  // the core-graph component count (Dedup union-find; oracle = 16
  // unrolled min-label rounds) are all integer decisions — density
  // clustering with not one float compare.
  private val q473 = QueryDef(
    "q473_dbscan_census",
    (s, dir) => {
      // pool = SamplePools.DbscanPool-sized id-prefix sample; the
      // iteration below is O(pool²) and NEVER sees the full corpus.
      // Pairwise distances: broadcast pair join + the codegen'd
      // QuantizedL2 loop (one fused loop per candidate pair). This
      // replaced a per-dimension posexplode → 64-key shuffle join →
      // pool²·dims-row hash aggregate; bit-identical LONG distances
      // on the same ⌊x·2²⁰⌋ lattice as the oracle. (A zip_with-fold
      // HOF variant was also measured and rejected earlier — the
      // interpreted lambdas lose to both codegen forms.)
      val vecs = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < SamplePools.DbscanPool)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val d2 = vecs.as("a")
        .join(broadcast(vecs.as("b")), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          graft.functions.QuantizedL2(s, col("a.embedding"),
            col("b.embedding")).as("d2"))
        .localCheckpoint()
      val eps = d2.agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY d2)")
          .cast(LongType).as("eps2"))
      val nbr = d2.crossJoin(broadcast(eps))
        .filter(col("d2") <= col("eps2"))
        .select(col("va"), col("vb"))
        .localCheckpoint()
      val deg = nbr.select(col("va").as("v"))
        .unionAll(nbr.select(col("vb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val core = deg.filter(col("deg") >= 5).select("v")
        .localCheckpoint()
      val coreEdges = nbr
        .join(core.select(col("v").as("va")), Seq("va"))
        .join(core.select(col("v").as("vb")), Seq("vb"))
        .select(col("va").as("doc_a"), col("vb").as("doc_b"))
        .localCheckpoint()
      val compRow = Dedup.clusters(coreEdges, localEdgeCap = 1L << 23)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          coalesce(max("sz"), lit(0L)).as("giant"))
        // bounded-collect: one fully-aggregated summary row
        .collect()(0)
      val borderSet = nbr
        .select(col("va").as("v"), col("vb").as("o"))
        .unionAll(nbr.select(col("vb").as("v"), col("va").as("o")))
        .join(core.select(col("v").as("o")), Seq("o"))
        .select("v").distinct()
        .join(core, Seq("v"), "left_anti")
      // the four census counts run as ONE action (cross-joined
      // single-row aggregates over the checkpointed frames) instead
      // of four sequential jobs — same exact longs, a quarter of the
      // scheduler round-trips
      val census = vecs.agg(countDistinct("vec_id").as("n_points"))
        .crossJoin(core.agg(count(lit(1)).as("n_core")))
        .crossJoin(borderSet.agg(count(lit(1)).as("n_border")))
        .crossJoin(coreEdges
          .select(col("doc_a").as("v"))
          .unionAll(coreEdges.select(col("doc_b").as("v")))
          .distinct().agg(count(lit(1)).as("n_core_in_edges")))
        // bounded-collect: one fully-aggregated summary row
        .collect()(0)
      val nAll = census.getLong(0)
      val nCore = census.getLong(1)
      val border = census.getLong(2)
      // a core point with no core NEIGHBOR is still its own DBSCAN
      // cluster — union-find only sees edge endpoints, so add the
      // isolated cores back (the oracle mirrors this)
      val isolated = nCore - census.getLong(3)
      val nClusters = compRow.getLong(0) + isolated
      val giant =
        if (compRow.getLong(1) == 0L && isolated > 0L) 1L
        else compRow.getLong(1)
      import s.implicits._
      Seq((nAll, nCore, border, nAll - nCore - border, nClusters, giant))
        .toDF("n_points", "n_core", "n_border", "n_noise",
          "n_clusters", "giant")
    },
    Some {
      val prop = (0 until 16).map { i =>
        s"""l${i + 1} AS MATERIALIZED (SELECT e.a AS node,
          LEAST(MIN(l.lab), MIN(sf.lab)) AS lab
        FROM ce2 e JOIN l$i l ON l.node = e.b
        JOIN l$i sf ON sf.node = e.a GROUP BY e.a)"""
      }.mkString(",\n      ")
      s"""WITH vd AS MATERIALIZED (SELECT vec_id, dd.i - 1 AS d,
          CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd
        WHERE vec_id < 600),
      d2 AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb,
          CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
        FROM vd a JOIN vd b ON b.d = a.d AND a.vec_id < b.vec_id
        GROUP BY 1, 2),
      eps AS (SELECT CAST(percentile_disc(0.05)
          WITHIN GROUP (ORDER BY d2) AS BIGINT) AS eps2 FROM d2),
      nbr AS MATERIALIZED (SELECT va, vb FROM d2 CROSS JOIN eps
        WHERE d2 <= eps2),
      deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT va AS v FROM nbr UNION ALL SELECT vb FROM nbr)
        GROUP BY v),
      core AS MATERIALIZED (SELECT v FROM deg WHERE deg >= 5),
      ce AS MATERIALIZED (SELECT n.va AS a, n.vb AS b FROM nbr n
        JOIN core c1 ON c1.v = n.va JOIN core c2 ON c2.v = n.vb),
      ce2 AS MATERIALIZED (SELECT a, b FROM ce
        UNION ALL SELECT b, a FROM ce),
      l0 AS MATERIALIZED (SELECT a AS node, a AS lab
        FROM (SELECT DISTINCT a FROM ce2)),
      $prop,
      comp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
          CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS giant
        FROM (SELECT lab, COUNT(*) AS sz FROM l16 GROUP BY lab)),
      isolated_core AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM core
        WHERE v NOT IN (SELECT a FROM ce2)),
      counts AS (SELECT
          (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM vd)
            AS n_points,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM core) AS n_core,
          (SELECT CAST(COUNT(DISTINCT x.v) AS BIGINT)
            FROM (SELECT va AS v, vb AS o FROM nbr
              UNION ALL SELECT vb, va FROM nbr) x
            JOIN core c ON c.v = x.o
            WHERE x.v NOT IN (SELECT v FROM core)) AS n_border)
      SELECT c.n_points, c.n_core, c.n_border,
        c.n_points - c.n_core - c.n_border AS n_noise,
        p.n_clusters + i.n AS n_clusters,
        CASE WHEN p.giant = 0 AND i.n > 0 THEN 1
          ELSE p.giant END AS giant
      FROM counts c CROSS JOIN comp p CROSS JOIN isolated_core i"""
    },
    covers = Seq("ML-dbscan"))

  // ------------------------------------------------- conformal
  // Split conformal prediction for order value: the 1995–97 segment
  // mean predicts; 1998 calibrates (P90 of absolute residuals —
  // residual NUMERATORS |n·y − S| share the denominator n, so the
  // quantile is an exact integer pick); 1999+ tests. Coverage
  // membership is the exact comparison |n·y − S| ≤ R̂ — the 90%
  // marginal-coverage guarantee audited without one float decision.
  private val q474 = QueryDef(
    "q474_conformal_interval",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"), cents.as("y"),
          year(to_date(col("o_orderdate"))).as("yr"))
      val train = o.filter(col("yr") <= 1997)
        .groupBy("segment").agg(sum("y").as("s_tr"), count(lit(1)).as("n_tr"))
      val cal = o.filter(col("yr") === 1998)
        .join(broadcast(train), Seq("segment"))
        .select(col("segment"),
          abs(col("n_tr") * col("y") - col("s_tr")).as("r"))
      val qhat = cal.groupBy("segment")
        .agg(count(lit(1)).as("n_cal"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY r)")
            .cast(LongType).as("rq"))
      val test = o.filter(col("yr") >= 1999)
        .join(broadcast(train), Seq("segment"))
        .join(broadcast(qhat), Seq("segment"))
        .groupBy("segment", "s_tr", "n_tr", "n_cal", "rq")
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("n_tr") * col("y") - col("s_tr")) <= col("rq"),
            1L).otherwise(0L)).as("n_covered"))
      test.select(col("segment"), col("n_cal"), col("n_test"),
          (col("s_tr").cast("double") / col("n_tr").cast("double"))
            .as("center_cents"),
          (col("rq").cast("double") / col("n_tr").cast("double"))
            .as("halfwidth_cents"),
          (col("n_covered").cast("double") / col("n_test").cast("double"))
            .as("coverage"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          year(CAST(o.o_orderdate AS DATE)) AS yr
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      train AS (SELECT segment, CAST(SUM(y) AS BIGINT) AS s_tr,
          CAST(COUNT(*) AS BIGINT) AS n_tr
        FROM o WHERE yr <= 1997 GROUP BY segment),
      cal AS (SELECT o.segment, ABS(t.n_tr * o.y - t.s_tr) AS r
        FROM o JOIN train t ON t.segment = o.segment
        WHERE o.yr = 1998),
      qhat AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_cal,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY r)
            AS BIGINT) AS rq
        FROM cal GROUP BY segment),
      test AS (SELECT o.segment, t.s_tr, t.n_tr, q.n_cal, q.rq,
          CAST(COUNT(*) AS BIGINT) AS n_test,
          CAST(COUNT(*) FILTER (WHERE ABS(t.n_tr * o.y - t.s_tr)
            <= q.rq) AS BIGINT) AS n_covered
        FROM o JOIN train t ON t.segment = o.segment
        JOIN qhat q ON q.segment = o.segment
        WHERE o.yr >= 1999
        GROUP BY 1, 2, 3, 4, 5)
      SELECT segment, n_cal, n_test,
        CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE) AS center_cents,
        CAST(rq AS DOUBLE) / CAST(n_tr AS DOUBLE) AS halfwidth_cents,
        CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
      FROM test ORDER BY segment"""),
    covers = Seq("ML-conformal"))

  // ------------------------------------------------- linear Shapley
  // Global feature attribution of the q471 model: for a linear
  // model the Shapley value is exactly β_j·(x_j − x̄_j), so mean
  // |attribution| = |β_j| · MAD_j with MAD_j = Σ|n·x_j − S_j|/n² —
  // an exact integer sum. Betas come from the same Cramer
  // determinants; importance shares are two divisions.
  private val q475 = QueryDef(
    "q475_shapley_linear",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(
          (year(to_date(col("o_orderdate"))) - 1995).cast(LongType).as("x1"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("x2"),
          cents.as("y"))
      val m = o.agg(
        count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum("y").as("sy")).localCheckpoint()
      val mads = o.crossJoin(broadcast(m))
        .agg(sum(abs(col("n") * col("x1") - col("s1"))).as("mad1n"),
          sum(abs(col("n") * col("x2") - col("s2"))).as("mad2n"))
      def det(a: Column, b: Column, c: Column,
              d: Column, e: Column, f: Column,
              g: Column, h: Column, i: Column): Column =
        dec38(a) * (dec38(e) * dec38(i) - dec38(f) * dec38(h)) -
          dec38(b) * (dec38(d) * dec38(i) - dec38(f) * dec38(g)) +
          dec38(c) * (dec38(d) * dec38(h) - dec38(e) * dec38(g))
      val betas = m.select(col("n"),
          det(col("n"), col("s1"), col("s2"),
            col("s1"), col("s11"), col("s12"),
            col("s2"), col("s12"), col("s22")).as("dd"),
          det(col("n"), col("sy"), col("s2"),
            col("s1"), col("s1y"), col("s12"),
            col("s2"), col("s2y"), col("s22")).as("d1"),
          det(col("n"), col("s1"), col("sy"),
            col("s1"), col("s11"), col("s1y"),
            col("s2"), col("s12"), col("s2y")).as("d2"))
        .select(col("n"),
          (col("d1").cast("double") / col("dd").cast("double")).as("b1"),
          (col("d2").cast("double") / col("dd").cast("double")).as("b2"))
      betas.crossJoin(mads)
        .select(col("n"), col("b1"), col("b2"),
          (abs(col("b1")) * (col("mad1n").cast("double") /
            (col("n") * col("n")).cast("double"))).as("imp1"),
          (abs(col("b2")) * (col("mad2n").cast("double") /
            (col("n") * col("n")).cast("double"))).as("imp2"))
        .select(col("n"), col("b1"), col("b2"), col("imp1"), col("imp2"),
          (col("imp1") / (col("imp1") + col("imp2"))).as("share_year"))
    },
    Some("""WITH o AS (SELECT
          CAST(year(CAST(o_orderdate AS DATE)) - 1995 AS BIGINT) AS x1,
          CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
            AS x2,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y
        FROM orders),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
          CAST(SUM(x1 * x1) AS BIGINT) AS s11,
          CAST(SUM(x1 * x2) AS BIGINT) AS s12,
          CAST(SUM(x2 * x2) AS BIGINT) AS s22,
          CAST(SUM(x1 * y) AS BIGINT) AS s1y,
          CAST(SUM(x2 * y) AS BIGINT) AS s2y,
          CAST(SUM(y) AS BIGINT) AS sy
        FROM o),
      mads AS (SELECT
          CAST(SUM(ABS(m.n * o.x1 - m.s1)) AS BIGINT) AS mad1n,
          CAST(SUM(ABS(m.n * o.x2 - m.s2)) AS BIGINT) AS mad2n
        FROM o CROSS JOIN m),
      betas AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2y)
            - CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2) AS DOUBLE) /
          CAST(CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS DOUBLE) AS b1,
          CAST(CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2)
            + CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS DOUBLE) /
          CAST(CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS DOUBLE) AS b2
        FROM m)
      SELECT b.n, b.b1, b.b2,
        ABS(b.b1) * (CAST(md.mad1n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE)) AS imp1,
        ABS(b.b2) * (CAST(md.mad2n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE)) AS imp2,
        (ABS(b.b1) * (CAST(md.mad1n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE))) /
        ((ABS(b.b1) * (CAST(md.mad1n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE))) +
         (ABS(b.b2) * (CAST(md.mad2n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE)))) AS share_year
      FROM betas b CROSS JOIN mads md"""),
    covers = Seq("ML-shapley-linear"))

  // ------------------------------------------------- pinball loss
  // Quantile-forecast evaluation: the train-period (≤1997) P50/P90
  // of order cents per segment forecast the test period (1998+),
  // scored by pinball loss. Both losses stay integral in scaled
  // units (2× for τ=.5, 10× for τ=.9: 9(y−q) / 1(q−y)), so the sums
  // are exact and each mean is one division. The asymmetric loss
  // that actually validates a P90 service-level promise.
  private val q476 = QueryDef(
    "q476_pinball_loss",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"), cents.as("y"),
          (year(to_date(col("o_orderdate"))) <= 1997).as("is_train"))
      val qs = o.filter(col("is_train")).groupBy("segment")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)")
          .cast(LongType).as("q50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)")
            .cast(LongType).as("q90"))
      o.filter(!col("is_train"))
        .join(broadcast(qs), Seq("segment"))
        .groupBy("segment", "q50", "q90")
        .agg(count(lit(1)).as("n_test"),
          sum(abs(col("y") - col("q50"))).as("l50x2"),
          sum(when(col("y") >= col("q90"),
            lit(9L) * (col("y") - col("q90")))
            .otherwise(col("q90") - col("y"))).as("l90x10"))
        .select(col("segment"), col("n_test"), col("q50"), col("q90"),
          (col("l50x2").cast("double") /
            (lit(2L) * col("n_test")).cast("double")).as("pinball50"),
          (col("l90x10").cast("double") /
            (lit(10L) * col("n_test")).cast("double")).as("pinball90"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          (year(CAST(o.o_orderdate AS DATE)) <= 1997) AS is_train
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      qs AS (SELECT segment,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY y)
            AS BIGINT) AS q50,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY y)
            AS BIGINT) AS q90
        FROM o WHERE is_train GROUP BY segment)
      SELECT o.segment, CAST(COUNT(*) AS BIGINT) AS n_test,
        q.q50, q.q90,
        CAST(SUM(ABS(o.y - q.q50)) AS DOUBLE) /
          CAST(2 * COUNT(*) AS DOUBLE) AS pinball50,
        CAST(SUM(CASE WHEN o.y >= q.q90 THEN 9 * (o.y - q.q90)
          ELSE q.q90 - o.y END) AS DOUBLE) /
          CAST(10 * COUNT(*) AS DOUBLE) AS pinball90
      FROM o JOIN qs q ON q.segment = o.segment
      WHERE NOT o.is_train
      GROUP BY o.segment, q.q50, q.q90 ORDER BY o.segment"""),
    covers = Seq("ML-pinball-loss"))

  // ------------------------------------------------- DP contribution
  // Contribution bounding for a DP release of per-type event counts:
  // per event_type, the max and P99 per-user contribution (exact
  // integer picks), P99 as the suggested clip, and the exact count
  // mass clipping would discard — the sensitivity/utility trade
  // table a DP-SQL engine needs BEFORE calibrating noise.
  private val q497 = QueryDef(
    "q497_dp_contribution",
    (s, dir) => {
      val contrib = Tables.load(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      val prof = contrib.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"), sum("c").as("true_total"),
          max("c").as("max_contrib"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("clip"))
      contrib.join(broadcast(prof), Seq("event_type"))
        .groupBy("event_type", "n_users", "true_total", "max_contrib",
          "clip")
        .agg(sum(least(col("c"), col("clip"))).as("clipped_total"))
        .select(col("event_type"), col("n_users"), col("true_total"),
          col("max_contrib"), col("clip"), col("clipped_total"),
          ((col("true_total") - col("clipped_total")).cast("double") /
            col("true_total").cast("double")).as("loss_share"))
        .orderBy("event_type")
    },
    Some("""WITH contrib AS (SELECT event_type, user_id,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      prof AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(c) AS BIGINT) AS true_total,
          CAST(MAX(c) AS BIGINT) AS max_contrib,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c)
            AS BIGINT) AS clip
        FROM contrib GROUP BY 1)
      SELECT c.event_type, p.n_users, p.true_total, p.max_contrib,
        p.clip, CAST(SUM(LEAST(c.c, p.clip)) AS BIGINT)
          AS clipped_total,
        CAST(p.true_total - SUM(LEAST(c.c, p.clip)) AS DOUBLE) /
          CAST(p.true_total AS DOUBLE) AS loss_share
      FROM contrib c JOIN prof p ON p.event_type = c.event_type
      GROUP BY c.event_type, p.n_users, p.true_total, p.max_contrib,
        p.clip
      ORDER BY c.event_type"""),
    covers = Seq("PRIV-contribution-bound"))

  // ------------------------------------------------- curation report
  // q500: the one-row corpus curation report — document and token
  // inventory, language breadth, exact-duplicate mass, verified
  // near-dup pairs and their transitive clusters, the removable-doc
  // count, and the Gopher-style quality-fail census (top-term share
  // ≥ 25% or < 10 tokens). The summary every curation run ships;
  // each field is an exact count from a pipeline gated separately
  // elsewhere.
  private val q500 = QueryDef(
    "q500_curation_report",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents").localCheckpoint()
      // doc-level inventory and the whole token census in TWO actions
      // instead of five: one agg over docs, and one explode → per-
      // (doc, term) counts → per-doc rollup (n_tok = Σc, top_c =
      // max c) → corpus rollup — the previous shape exploded the
      // corpus twice and joined the halves back.
      val byTok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
      val perDoc = byTok.groupBy("doc_id")
        .agg(sum("c").as("n_tok"), max("c").as("top_c"))
      val head = docs.agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          countDistinct("text").as("n_uniq"))
        .crossJoin(perDoc.agg(sum("n_tok").as("n_tokens"),
          sum(when(col("n_tok") < 10 ||
            lit(4L) * col("top_c") >= col("n_tok"), 1L).otherwise(0L))
            .as("n_quality_fail")))
        // bounded-collect: one fully-aggregated summary row
        .collect()(0)
      val nDocs = head.getLong(0)
      val nLangs = head.getLong(1)
      val nUniqueTexts = head.getLong(2)
      val totalTok = head.getLong(3)
      val quality = head.getLong(4)
      // q500's pair set IS q22's pipeline — read the session-cached
      // copy (see Round44's q289 note; the oracle re-derives it)
      val pairs = GraphGateSource.cached(s, "q22-pairs:" + dir)(
          graft.SparkEntry.queries("q22_ngram_jaccard")(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val nPairs = pairs.count()
      val clusters = graft.dedup.Dedup.clusters(pairs)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      // bounded-collect: one fully-aggregated summary row
      val sums = clusters.agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_clustered")).collect()(0)
      val removable = sums.getLong(1) - sums.getLong(0)
      import s.implicits._
      Seq((nDocs, nLangs, totalTok, nDocs - nUniqueTexts, nPairs,
        sums.getLong(0), removable, quality))
        .toDF("n_docs", "n_langs", "n_tokens", "n_exact_dups",
          "n_neardup_pairs", "n_clusters", "n_removable",
          "n_quality_fail")
        .withColumn("keep_rate",
          (col("n_docs") - col("n_exact_dups") - col("n_removable") -
            col("n_quality_fail")).cast("double") /
            col("n_docs").cast("double"))
    },
    Some("""WITH RECURSIVE docs AS (SELECT * FROM documents),
      toksrc AS (SELECT doc_id, string_split(text, ' ') AS tk
        FROM docs),
      tok AS (SELECT doc_id, unnest(tk) AS tk FROM toksrc),
      tok_stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY 1),
      top_share AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c
        FROM (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        GROUP BY 1),
      quality AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq
        FROM tok_stats t JOIN top_share s ON s.doc_id = t.doc_id
        WHERE t.n_tok < 10 OR 4 * s.top_c >= t.n_tok),
      sh AS (SELECT DISTINCT doc_id,
          unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM toksrc WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
        GROUP BY 1),
      p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(COUNT(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM p0
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.4),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a),
      cstats AS (SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT)
          AS n_clusters,
          CAST(COUNT(*) AS BIGINT) AS n_clustered
        FROM comp)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS n_docs,
        (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM docs)
          AS n_langs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS n_tokens,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) -
          (SELECT CAST(COUNT(DISTINCT text) AS BIGINT) FROM docs)
          AS n_exact_dups,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs)
          AS n_neardup_pairs,
        c.n_clusters,
        c.n_clustered - c.n_clusters AS n_removable,
        q.nq AS n_quality_fail,
        CAST((SELECT COUNT(*) FROM docs) -
          ((SELECT COUNT(*) FROM docs) -
            (SELECT COUNT(DISTINCT text) FROM docs)) -
          (c.n_clustered - c.n_clusters) - q.nq AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM docs) AS DOUBLE) AS keep_rate
      FROM cstats c CROSS JOIN quality q"""),
    covers = Seq("LLM-curation-report"))

  // ------------------------------------------------- rec novelty
  // Novelty profile of the q463 recommender: where do its
  // recommendations sit on the popularity curve? Popularity ranks
  // from train-period demand (ties → part key), mean rank percentile
  // of recommended slots, and the share of recs from the catalog's
  // long tail (bottom 80%) — the metric that separates "useful" from
  // "recommends bestsellers at everyone".
  private val q513 = QueryDef(
    "q513_rec_novelty",
    (s, dir) => {
      val pop = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders").select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("od") < lit("1999-01-01").cast(DateType))
        .groupBy(col("l_partkey").as("rec"))
        .agg(count(lit(1)).as("hits"))
      val w = Window.orderBy(col("hits").desc, col("rec"))
      val ranked = pop.withColumn("prank", row_number().over(w)
        .cast(LongType))
      val nParts = ranked.agg(max("prank").as("np"))
      recs(s, dir)
        .join(ranked, Seq("rec"))
        .crossJoin(broadcast(nParts))
        .agg(count(lit(1)).as("n_recs"), sum("prank").as("sum_rank"),
          max("np").as("np"),
          sum(when(lit(5L) * col("prank") > col("np"), 1L).otherwise(0L))
            .as("n_tail"))
        .select(col("n_recs"),
          (col("sum_rank").cast("double") /
            (col("n_recs") * col("np")).cast("double"))
            .as("mean_rank_pct"),
          (col("n_tail").cast("double") / col("n_recs").cast("double"))
            .as("tail_share"))
    },
    Some(s"""WITH ${recsSql},
      pop AS (SELECT l.l_partkey AS rec, CAST(COUNT(*) AS BIGINT)
          AS hits
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE CAST(o.o_orderdate AS DATE) < DATE '1999-01-01'
        GROUP BY 1),
      ranked AS (SELECT rec, CAST(row_number() OVER (
          ORDER BY hits DESC, rec) AS BIGINT) AS prank FROM pop),
      np AS (SELECT CAST(MAX(prank) AS BIGINT) AS np FROM ranked)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_recs,
        CAST(SUM(r.prank) AS DOUBLE) /
          CAST(COUNT(*) * MAX(np.np) AS DOUBLE) AS mean_rank_pct,
        CAST(COUNT(*) FILTER (WHERE 5 * r.prank > np.np) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS tail_share
      FROM recs rc JOIN ranked r ON r.rec = rc.rec
      CROSS JOIN np"""),
    covers = Seq("ML-rec-novelty"))

  val all: Seq[QueryDef] =
    Seq(q48, q54, q65, q69, q97, q98, q100, q101, q102, q121, q127, q131,
      q142, q184, q195, q198, q245, q264, q280, q284, q290, q309, q310, q346,
      q354, q447, q448, q463, q466, q465, q467, q468, q469, q471, q473, q474,
      q475, q476, q497, q500, q513)
}
