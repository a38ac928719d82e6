package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

import graft.Tables
import graft.store.TableStore
import graft.streaming.EventStreams

import QueryDef.dec

/** Streaming and event-time series: the structured-streaming folds
  * (windowed, sessionized, deduplicating, AvailableNow ingest, state
  * sizing), batch sessionization and sequences, and the time-series
  * family (interpolation, seasonality, forecasting, anomalies, SAX).
  *
  * Determinism rules: see the [[QueryDef]] companion.
  */
object StreamingGates {

  /** Complete-week order totals (wk, s_w) from the daily series. */
  private def weeklyOrderDays(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(floor(datediff(to_date(col("o_orderdate")),
        lit("1995-01-01").cast(DateType)) / lit(7.0))
        .cast(LongType).as("wk"),
        to_date(col("o_orderdate")).as("day"))
      .groupBy("wk")
      .agg(count(lit(1)).as("s_w"), countDistinct("day").as("nd"))

  private val weeklyOrderDaysSql: String =
    """wx AS (SELECT CAST(floor(date_diff('day', DATE '1995-01-01',
          CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS wk,
        CAST(o_orderdate AS DATE) AS day
      FROM orders),
      weekly AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS s_w,
          CAST(COUNT(DISTINCT day) AS BIGINT) AS nd
        FROM wx GROUP BY wk)"""

  /** Daily global order counts (day, di, dow, x). */
  private def daily(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
      .select(col("day"),
        datediff(col("day"), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("di"),
        (dayofweek(col("day")) - 1).cast(LongType).as("dow"), col("x"))

  private val dailySql: String =
    """daily AS (SELECT day, CAST(date_diff('day', DATE '1995-01-01',
          day) AS BIGINT) AS di,
        CAST(dayofweek(day) AS BIGINT) AS dow, x
      FROM (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1))"""

  /** Complete-week totals (wk, s_w), consecutive from week 0. */
  private def completeWeeks(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(floor(datediff(to_date(col("o_orderdate")),
        lit("1995-01-01").cast(DateType)) / lit(7.0))
        .cast(LongType).as("wk"),
        to_date(col("o_orderdate")).as("day"))
      .groupBy("wk")
      .agg(count(lit(1)).as("s_w"), countDistinct("day").as("nd"))
      .filter(col("nd") === 7)
      .select("wk", "s_w")

  private val completeWeeksSql: String =
    """weekly AS (SELECT wk, s_w FROM (
        SELECT CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(COUNT(*) AS BIGINT) AS s_w,
          CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
            AS nd
        FROM orders GROUP BY 1) WHERE nd = 7)"""

  private def rmTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }

  /** Shuffle-partition count for the streaming gates' micro-batches.
    * For stateful streaming, `spark.sql.shuffle.partitions` (pinned
    * into the checkpoint at first start) fixes the number of STATE
    * STORE instances per stateful operator — and every micro-batch
    * pays per-instance commit/maintenance cost whether or not a
    * partition holds data. At gate scale (tens of rows per
    * partition, 4–8 micro-batches, each gate run 3× per bench) the
    * session's 32 instances are pure fixed overhead; the landed
    * result is partition-count invariant, so the same hashes pass at
    * any value. Production keeps the session default — this is the
    * gate-harness twin of sizing shuffle partitions to the data,
    * the exact tuning a real deployment applies per stream.
    */
  private val StreamGateShufflePartitions = 4

  /** Dev A/B hook (graft.stream.parts system property): lets
    * dev/StreamProf alternate the state-store instance count
    * in-session, where cross-JVM A/Bs drown in box-load noise.
    * Absent (every production/bench/verify path) it is the pinned
    * constant above.
    */
  private def streamGateParts: Int =
    sys.props.get("graft.stream.parts").map(_.toInt)
      .getOrElse(StreamGateShufflePartitions)

  /** Run a streaming gate body in its own temp dir — with the gate
    * shuffle fan-out above — and delete the dir EAGERLY once the
    * result is materialized: the returned frame reads lazily from
    * parquet inside the dir, so the body's result is pinned off-disk
    * with an eager localCheckpoint (gate outputs are
    * aggregate/result-sized, O(windows) or O(matches), never the raw
    * corpus copy) before the finally removes the files. The shutdown
    * hook is a backstop for abnormal exits (a killed run mid-gate)
    * and is deregistered on the normal path so hooks don't
    * accumulate across the bench's ~27 gate executions.
    */
  private def withGateDir(s: SparkSession, prefix: String)(
      body: java.nio.file.Path => DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory(prefix)
    val hook = new Thread(() => rmTree(tmp))
    Runtime.getRuntime.addShutdownHook(hook)
    val key = "spark.sql.shuffle.partitions"
    val prior = s.conf.getOption(key)
    s.conf.set(key, streamGateParts.toString)
    try body(tmp).localCheckpoint()
    finally {
      prior match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
      rmTree(tmp)
      // throws IllegalStateException if shutdown already started —
      // in which case the hook itself is doing the cleanup
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () }
    }
  }

  /** Session-lifetime cache of the streaming gates' SOURCE slice
    * dirs, keyed by (gate, sf-dir): the bench executes every gate
    * three times (untimed warm pass + two timed passes), and the
    * source slices are a pure function of the input tables — so
    * re-writing them per execution paid ~27 redundant write jobs per
    * bench run for byte-identical files. First execution writes into
    * a fresh temp dir; later executions re-read it. Checkpoint /
    * store / output dirs stay per-execution inside `withGateDir`
    * (streaming exactly-once state must never be reused across
    * runs). A single shutdown hook per cached dir removes it at JVM
    * exit; high-water disk is O(#gates) gate-sized slice sets, not
    * O(#executions).
    */
  private val srcCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.nio.file.Path]

  private def cachedSrc(gate: String, dir: String)(
      write: java.nio.file.Path => Unit): java.nio.file.Path =
    srcCache.computeIfAbsent((gate, dir), { _ =>
      val root = Files.createTempDirectory(s"graft-src-$gate")
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root)))
      val data = root.resolve("data")
      write(data)
      data
    })

  /** Write `ev` as up to `n` chronological slice files — equal-width
    * EVENT-TIME intervals between the global min and max of `timeCol`
    * — with deterministic, strictly-increasing mtimes (a fixed base,
    * 1 s apart; the file stream source orders new files by
    * modification time, so the stamps make micro-batch delivery order
    * reproducible). Value-based cuts have three properties the
    * earlier global-`ntile` slicer lacked: the boundaries depend only
    * on the DATA (min/max), not on partitioning or parallelism, so
    * batch contents reproduce across environments; rows sharing a
    * millisecond never straddle a slice, so cross-batch arrival stays
    * chronological and the processors' in-batch sorts yield the
    * oracle's total order; and the slice id is a narrow per-row
    * expression — no single-partition window sort of the whole table
    * per gate (the one non-scalable shape left in the scaffolding).
    *
    * All `n` slice files land in ONE write job (`partitionBy` over the
    * slice id on a coalesced frame — gate inputs are small by
    * construction), not `n` filtered jobs that each re-scan the
    * source; the stage's `slice=i` part files are then renamed into
    * the flat mtime-stamped layout. A slice with no rows writes no
    * file — batch boundaries shift by one, which the gates are
    * insensitive to by design (batching-invariance is the property
    * under test).
    */
  private def writeChronoSlices(
      ev: DataFrame,
      src: java.nio.file.Path,
      timeCol: org.apache.spark.sql.Column,
      n: Int): Unit = {
    val ms = unix_millis(timeCol)
    // bounded-collect: O(1) — the global (min, max) pair for the cuts
    val bounds = ev.agg(min(ms), max(ms)).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max((mx - mn) / n + 1, 1L)
    val sliced = ev.withColumn("slice",
      least(lit(n), (floor((ms - lit(mn)) / lit(width)) + 1).cast("int")))
    val stage = Files.createTempDirectory("graft-slices")
    sliced.coalesce(1).write.partitionBy("slice")
      .mode("overwrite").parquet(stage.toString)
    Files.createDirectories(src)
    val baseMs = 1700000000000L // fixed stamp: only the ORDER matters
    (1 to n).foreach { i =>
      val sliceDir = stage.resolve(s"slice=$i")
      if (Files.isDirectory(sliceDir)) {
        val part = sliceDir.toFile.listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file in $sliceDir"))
        val dest = src.resolve(f"slice-$i%02d.parquet")
        Files.move(part.toPath, dest)
        dest.toFile.setLastModified(baseMs + i * 1000L)
      }
    }
    rmTree(stage)
  }

  /** Write each frame as one parquet file under `src`, stamped with
    * deterministic strictly-increasing mtimes so the file stream
    * source delivers them in sequence order.
    */
  private def writeOrderedSlices(
      frames: Seq[DataFrame],
      src: java.nio.file.Path): Unit = {
    Files.createDirectories(src)
    val baseMs = 1700000000000L // fixed stamp: only the ORDER matters
    frames.zipWithIndex.foreach { case (f, i0) =>
      val i = i0 + 1
      val stage = Files.createTempDirectory("graft-slice")
      f.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $stage"))
      val dest = src.resolve(f"slice-$i%02d.parquet")
      Files.move(part.toPath, dest)
      dest.toFile.setLastModified(baseMs + i * 1000L)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stage.toFile)
    }
  }

  /** Watermark horizons the census sizes for: 30 min (the gates'
    * production lateness), one day, one week.
    */
  private val HorizonsSec = Seq(1800L, 86400L, 604800L)

  private val gateRowsPerInstance = 64L

  private def stateSizing(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      // floor-seconds bucketing (see scaladoc: cast = floorDiv micros)
      .select(col("event_type"), col("ts").cast("long").as("sec"))
    // The 100 TB shape: the heavy lifting is a shuffle-parallel
    // per-(type, second) pre-aggregation; the RANGE window then runs
    // over AT MOST one row per distinct second per type — bounded by
    // the feed's time span, not its volume (and rows in the same
    // floored second are RANGE peers, so summing per-second counts is
    // value-identical to the oracle's per-row sliding count). If the
    // span itself outgrows one task, coarsen the bucket toward the
    // horizon resolution — the census's one tunable.
    val perSec = ev.groupBy("event_type", "sec").agg(count(lit(1)).as("n"))
    // Sliding sum as a DIFFERENCE of two cumulative sums, not a bounded
    // RANGE frame: Spark's sliding-frame processor re-aggregates the
    // whole buffered frame for every output row, so a horizon that
    // spans most of the feed (one week here) makes the window
    // O(rows × frame) per type — measured 11.4 s at sf0.1 (r11
    // baseline), the single most expensive gate. Both frames below are
    // (UNBOUNDED PRECEDING, x) shapes, which Spark evaluates
    // incrementally (add-only) in O(rows) total. Equivalence is exact
    // integer arithmetic over the per-second pre-aggregate, whose `sec`
    // is DISTINCT within each type partition: for integer seconds,
    //   sum over RANGE [s-h, s]
    //     = sum over RANGE (-inf, s]          (c1)
    //     - sum over RANGE (-inf, s-(h+1)]    (c2: rows with sec < s-h)
    // with an empty c2 frame summing to null -> coalesce 0. All three
    // horizons (plus c1) share one (partitionBy type, orderBy sec)
    // sort, so the whole census is ONE exchange + ONE WindowExec pass
    // instead of three sliding-frame branches unioned (3 exchanges,
    // 3 sorts, O(rows × frame) each) — measured 11.42 -> 0.72 s.
    val byType = Window.partitionBy("event_type").orderBy("sec")
    val c1 = sum("n").over(
      byType.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    def inHorizon(h: Long) = c1 - coalesce(
      sum("n").over(byType.rangeBetween(Window.unboundedPreceding, -(h + 1))),
      lit(0L))
    val withSums = perSec.select(
      col("event_type") +:
        HorizonsSec.map(h => inHorizon(h).as(s"__ih_$h")): _*)
    val peakPerType = withSums.groupBy("event_type")
      .agg(max(col(s"__ih_${HorizonsSec.head}")).as(s"__peak_${HorizonsSec.head}"),
        HorizonsSec.tail.map(h => max(col(s"__ih_$h")).as(s"__peak_$h")): _*)
    // unpivot to the census's (event_type, horizon_sec, peak) rows
    val stackArgs = HorizonsSec
      .map(h => s"${h}L, __peak_$h").mkString(", ")
    val peaks = peakPerType.select(col("event_type"),
      expr(s"stack(${HorizonsSec.size}, $stackArgs) " +
        "AS (horizon_sec, peak_state_rows)"))
    // bounded-collect: O(types × horizons) model-sized census rows —
    // the sizing rule runs LIVE on each, like q532's in-gate probe
    val sized = peaks.collect().toSeq.map { r =>
      val peak = r.getAs[Long]("peak_state_rows")
      (r.getAs[String]("event_type"), r.getAs[Long]("horizon_sec"), peak,
        EventStreams.recommendedStatePartitions(
          peak, rowsPerInstance = gateRowsPerInstance).toLong)
    }
    import s.implicits._
    sized.toDF("event_type", "horizon_sec", "peak_state_rows",
        "recommended_instances")
      .orderBy("event_type", "horizon_sec")
  }

  // ---------------------------------------------------------------- batch sessionization
  // Gap-based sessions in pure SQL/window form (the batch twin of
  // streaming/EventStreams.sessionize): flag gap > 30 min, running-sum
  // the flags into session ids, aggregate per user.
  private val q42 = QueryDef(
    "q42_sessionize_batch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = e.withColumn("new_s",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
            > 30L * 60 * 1000000, 1).otherwise(0))
      val sessions = flagged
        .withColumn("sid", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(
          count(lit(1)).as("n_events"),
          // exact integer micros — summing fractional seconds would be
          // partial-agg-order dependent in the last ULP
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("duration_us"))
      sessions.groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          (sum(col("duration_us")).cast("double") / 1000000d)
            .as("total_session_sec"))
        .orderBy("user_id")
    },
    Some("""WITH ordered AS (
        SELECT user_id, ts, event_id,
          LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      flagged AS (
        SELECT user_id, ts, event_id,
          CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 30*60*1000000
               THEN 1 ELSE 0 END AS new_s
        FROM ordered),
      numbered AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged),
      sessions AS (
        SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        FROM numbered GROUP BY 1, 2)
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(MAX(n_events) AS BIGINT) AS max_session_events,
        CAST(SUM(duration_us) AS DOUBLE) / 1000000 AS total_session_sec
      FROM sessions GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("SESSION-batch"))

  // ------------------------------------------------------------ gap interpolation
  // Linear interpolation of masked points in a daily series: carry
  // (last non-null value, its day) forward and (next, its day)
  // backward with IGNORE NULLS window frames, then one shared IEEE
  // tree for the lerp — identical in both engines bit for bit. The
  // window is over the AGGREGATED series (thousands of rows at any
  // data scale), not raw events, so the single partition is fine.
  private val q83 = QueryDef(
    "q83_interpolate",
    (s, dir) => {
      val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
      val daily = Tables.load(s, dir, "orders")
        .groupBy(day.as("day"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"))
        .select(col("day"),
          when(col("day") % 5 =!= 0, col("s").cast("double")).as("v"))
      val wPrev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
      val marked = daily.select(
        col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wPrev).as("pv"),
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wPrev).as("pd"),
        first(col("v"), ignoreNulls = true).over(wNext).as("nv"),
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wNext).as("nd"))
      marked.select(
          col("day"),
          coalesce(
            col("v"),
            col("pv") + (col("nv") - col("pv")) * (col("day") - col("pd")) /
              (col("nd") - col("pd")),
            col("pv"), col("nv")).as("filled"),
          col("v").isNull.as("was_gap"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
          CASE WHEN (epoch_us(o_orderdate) // 86400000000) % 5 <> 0
               THEN CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) END AS v
        FROM orders GROUP BY 1),
      marked AS (
        SELECT day, v,
          last_value(v IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
          first_value(v IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM daily)
      SELECT day,
        coalesce(v, pv + (nv - pv) * (day - pd) / (nd - pd), pv, nv) AS filled,
        (v IS NULL) AS was_gap
      FROM marked ORDER BY day"""),
    covers = Seq("TS-interpolate"))

  // ------------------------------------------------- event path trigrams
  // Order-sensitive behavioral paths: each user's event stream in
  // (ts, event_id) order yields its consecutive type TRIGRAMS (two
  // lags over the per-user window), counted corpus-wide with distinct
  // walkers — the path-mining step after q167's pairwise Markov
  // transitions. Top-25 by (count desc, path) is a total order. The
  // per-user window shards by user_id; the trigram aggregate is
  // map-side combined — two keyed shuffles at any scale.
  private val q256 = QueryDef(
    "q256_event_trigrams",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .withColumn("t3", lag(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("t3"), col("t2"), col("event_type")).as("path"),
          col("user_id"))
        .groupBy("path")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(desc("n"), col("path"))
        .limit(25)
    },
    Some("""WITH seq AS (
        SELECT user_id, event_type,
          LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
          LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        FROM events)
      SELECT t3 || '>' || t2 || '>' || event_type AS path,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 25"""),
    covers = Seq("SEQ-trigram-paths"))

  // ------------------------------------------------- time-weighted avg
  // TWAP: each observation holds until the next one (or the end of
  // day), so the daily average weights every value by how long it was
  // current — the right mean for irregular telemetry, where the
  // arithmetic mean over-counts bursts. All arithmetic exact: values
  // as integer cents, durations as integer microseconds from
  // unix_micros (lead() with an end-of-day default), so the weighted
  // sum is a LONG (≤ 5·10¹⁵ < 2⁵³ — even the double cast is exact)
  // and the TWAP is one shared IEEE division tree. The lead() window
  // partitions by (user, day) — event-grain but perfectly parallel at
  // any scale.
  private val q263 = QueryDef(
    "q263_twap",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"), col("ts"),
          (dec(col("value")) * 100).cast("long").as("cents"),
          to_date(col("ts")).as("day"))
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      val endOfDay = unix_micros(date_add(col("day"), 1).cast("timestamp"))
      e.withColumn("dur_us",
          coalesce(lead(unix_micros(col("ts")), 1).over(w), endOfDay)
            - unix_micros(col("ts")))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents") * col("dur_us")).as("sw"),
          sum(col("dur_us")).as("sd"))
        .select(col("user_id"), col("day"), col("n_events"),
          (col("sw").cast("double") / col("sd").cast("double")
            / lit(100.0d)).as("twap"))
        .orderBy("user_id", "day")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          CAST(ts AS DATE) AS day
        FROM events WHERE user_id % 10 = 0),
      d AS (SELECT *,
          COALESCE(LEAD(epoch_us(ts)) OVER (PARTITION BY user_id, day
                     ORDER BY ts, event_id),
                   epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
            - epoch_us(ts) AS dur_us
        FROM e)
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(cents * dur_us) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE)
          / CAST(100 AS DOUBLE) AS twap
      FROM d GROUP BY 1, 2 ORDER BY user_id, day"""),
    covers = Seq("TS-twap"))

  // ------------------------------------------------- autocorrelation
  // ACF of the daily order-count series at lags 1, 7 and 14 — THE
  // seasonality diagnostic (a lag-7 spike = weekly rhythm). Pairs
  // (t, t−lag) come from an equi-join of the daily aggregate with
  // itself per lag (explode of a 3-element lag array — no cartesian),
  // and each lag's Pearson runs on the q241 discipline: counts are
  // small integers, all five moments exact LONG sums, one shared IEEE
  // tree at the end. Integer counts keep every moment in range at ANY
  // scale factor (a daily count squares to ≤ ~10⁹ even at sf1000,
  // where cents-based revenue moments would overflow BIGINT).
  private val q266 = QueryDef(
    "q266_autocorrelation",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("ed",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        .select("ed", "x")
      val lagged = daily
        .select(col("ed"), col("x"),
          explode(array(lit(1L), lit(7L), lit(14L))).as("lag"))
        .withColumn("ed_prev", col("ed") - col("lag"))
      val pairs = lagged.join(
        daily.select(col("ed").as("ed_prev"), col("x").as("y")), "ed_prev")
      val g = pairs.groupBy("lag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den1 = col("n") * col("sxx") - col("sx") * col("sx")
      val den2 = col("n") * col("syy") - col("sy") * col("sy")
      g.filter(den1 > 0 && den2 > 0)
        .select(col("lag"), col("n").as("n_pairs"),
          (num.cast("double") /
            (sqrt(den1.cast("double")) * sqrt(den2.cast("double"))))
            .as("acf"))
        .orderBy("lag")
    },
    Some("""WITH daily AS (
        SELECT DATE_DIFF('day', DATE '1970-01-01',
                 CAST(o_orderdate AS DATE)) AS ed,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT l.lag, a.x, b.x AS y
        FROM daily a
        CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(7 AS BIGINT)),
                           (CAST(14 AS BIGINT))) l(lag)
        JOIN daily b ON b.ed = a.ed - l.lag),
      g AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy,
          CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY lag)
      SELECT lag, n AS n_pairs,
        CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
      FROM g
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      ORDER BY lag"""),
    covers = Seq("TS-acf"))

  // ------------------------------------------------- dow anomalies
  // Seasonal-residual outliers: each day's order count against its
  // day-of-week baseline (the weekly rhythm q04 profiles), keeping the
  // 3 most anomalous days per weekday. The ranking key is the EXACT
  // integer numerator x·n − sx (residual × group size): comparable
  // within a dow partition, and never a float compare — the residual
  // itself is emitted as one double division at the end. Baseline
  // moments are per-dow exact sums over the pre-aggregated daily
  // grain.
  private val q268 = QueryDef(
    "q268_dow_anomalies",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", dayofweek(col("d")).cast("long"))
      val wDow = Window.partitionBy("dow")
      val scored = daily
        .withColumn("n", count(lit(1)).over(wDow))
        .withColumn("sx", sum(col("x")).over(wDow))
        .withColumn("num", col("x") * col("n") - col("sx"))
      val ranked = scored.withColumn("rk",
        row_number().over(Window.partitionBy("dow")
          .orderBy(abs(col("num")).desc, col("d").asc)))
      ranked.filter(col("rk") <= 3)
        .select(col("dow"), col("d"), col("x").as("orders"),
          (col("num").cast("double") / col("n").cast("double"))
            .as("residual"),
          col("rk").cast("long").as("rk"))
        .orderBy("dow", "rk")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      dowd AS (SELECT *, CAST(dayofweek(d) AS BIGINT) + 1 AS dow FROM daily),
      scored AS (SELECT *,
          CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n,
          CAST(SUM(x) OVER (PARTITION BY dow) AS BIGINT) AS sx
        FROM dowd),
      ranked AS (SELECT *, x * n - sx AS num,
          ROW_NUMBER() OVER (PARTITION BY dow
            ORDER BY abs(x * n - sx) DESC, d ASC) AS rk
        FROM scored)
      SELECT dow, d, x AS orders,
        CAST(num AS DOUBLE) / CAST(n AS DOUBLE) AS residual,
        rk
      FROM ranked WHERE rk <= 3 ORDER BY dow, rk"""),
    covers = Seq("TS-seasonal-residual"))

  // ------------------------------------------------- inter-arrival CV
  // Burstiness per user: the coefficient of variation of inter-event
  // gaps (CV ≈ 1 = Poisson, > 1 = bursty, < 1 = regular). Gaps are
  // integer SECONDS from lag() on unix_micros (µs div 10⁶ — q248's
  // pinned truncating div); a month of events bounds Σgap by the
  // month span, so with the moment products in DECIMAL(38,0) the
  // variance numerator n·Σx² − (Σx)² is exact at ANY event density.
  // One shared IEEE tree at the end: cv = √(num/(n(n−1))) · n / Σx.
  private val q272 = QueryDef(
    "q272_interarrival_cv",
    (s, dir) => {
      val d38 = DecimalType(38, 0)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_s",
          expr("(unix_micros(ts) - prev_us) div 1000000"))
      val g = gaps.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(col("gap_s")).as("sx"),
        sum(col("gap_s") * col("gap_s")).as("sxx"))
      val num = (col("n").cast(d38) * col("sxx").cast(d38)) -
        (col("sx").cast(d38) * col("sx").cast(d38))
      g.filter(col("n") >= 2 && col("sx") > 0)
        .select(col("user_id"), col("n").as("n_gaps"),
          (col("sx").cast("double") / col("n").cast("double"))
            .as("mean_gap_s"),
          (sqrt(num.cast("double") /
            (col("n").cast("double") * (col("n") - 1L).cast("double")))
            * col("n").cast("double") / col("sx").cast("double")).as("cv"))
        .orderBy("user_id")
    },
    Some("""WITH gaps AS (
        SELECT user_id,
          (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY ts, event_id)) // 1000000 AS gap_s
        FROM events),
      g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(gap_s) AS BIGINT) AS sx,
          CAST(SUM(gap_s * gap_s) AS BIGINT) AS sxx
        FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1)
      SELECT user_id, n AS n_gaps,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_s,
        sqrt(CAST(n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
          * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE) AS cv
      FROM g WHERE n >= 2 AND sx > 0 ORDER BY user_id"""),
    covers = Seq("TS-burstiness"))

  // ------------------------------------------------- event RLE
  // Run-length encoding of per-user event streams: consecutive
  // repeats of the same event type collapse to (type, run_length,
  // start, end) — the gaps-and-islands shape that compresses bursty
  // telemetry and feeds sequence models fixed-alphabet runs. Island
  // ids are a running SUM of integer lag-flips (one window), the
  // per-island rollup is exact counts and min/max µs — partitioned by
  // user end to end, so the plan is one user shuffle at any scale.
  private val q283 = QueryDef(
    "q283_event_rle",
    (s, dir) => {
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = Tables.load(s, dir, "events")
        .filter(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      e.withColumn("flip",
          when(lag(col("event_type"), 1).over(wSeq).isNull, 1L)
            .when(lag(col("event_type"), 1).over(wSeq) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("flip")).over(wRun))
        // event_type is constant within an island, so it can be a
        // GROUP key — keeping it out of the aggregation buffer keeps
        // the rollup on the HashAggregate path (a first()/min() string
        // buffer would demote to SortAggregate, PlanAudit's flag)
        .groupBy("user_id", "island", "event_type")
        .agg(count(lit(1)).as("run_len"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .select(col("user_id"), col("island"), col("event_type"),
          col("run_len"), col("start_us"), col("end_us"))
        .orderBy("user_id", "island")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, ts
        FROM events WHERE user_id % 20 = 0),
      f AS (SELECT *,
          CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) IS NULL THEN 1
               WHEN LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) <> event_type THEN 1
               ELSE 0 END AS flip
        FROM e),
      i AS (SELECT *,
          CAST(SUM(flip) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS island
        FROM f)
      SELECT user_id, island, MIN(event_type) AS event_type,
        CAST(COUNT(*) AS BIGINT) AS run_len,
        MIN(us) AS start_us, MAX(us) AS end_us
      FROM i GROUP BY user_id, island ORDER BY user_id, island"""),
    covers = Seq("TS-rle"))

  // ------------------------------------------------- peak rate
  // Peak 60-second burst per user: the max number of events any
  // sliding minute contains — the rate-limit/abuse metric. The
  // sliding count is ONE time-RANGE window frame ((us−60s, us], an
  // integer-µs frame so both engines cut it identically), the peak
  // and its first achieving instant come from a max + filtered min
  // over the user partition. No self-join, no per-second explode:
  // O(events) with two shared-sort windows, user-partitioned at any
  // scale.
  private val q286 = QueryDef(
    "q286_peak_rate",
    (s, dir) => {
      val wSlide = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-59999999L, 0)
      val wUser = Window.partitionBy("user_id")
      Tables.load(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("cnt", count(lit(1)).over(wSlide))
        .withColumn("peak", max(col("cnt")).over(wUser))
        .withColumn("n_events", count(lit(1)).over(wUser))
        .filter(col("cnt") === col("peak"))
        .groupBy("user_id")
        .agg(first(col("n_events")).as("n_events"),
          first(col("peak")).as("peak_60s"),
          min(col("us")).as("peak_at_us"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      w AS (SELECT *,
          CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cnt,
          CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
        FROM e),
      p AS (SELECT *, MAX(cnt) OVER (PARTITION BY user_id) AS peak FROM w)
      SELECT user_id, MIN(n_events) AS n_events,
        CAST(MIN(peak) AS BIGINT) AS peak_60s,
        MIN(us) AS peak_at_us
      FROM p WHERE cnt = peak GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("TS-peak-rate"))

  // ------------------------------------------------- forecast backtest
  // Seasonal-naive baseline backtest: predict each day's event count
  // with the same weekday last week, score MAE and bias per type.
  // Exact integer error sums (|actual−predicted| over the self-join
  // on d−7), one division each at the end — the forecasting
  // scorecard every volume-planning pipeline keeps.
  private val q317 = QueryDef(
    "q317_seasonal_naive_backtest",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val a = daily.as("a")
      val p = daily.select(col("event_type"), col("d"), col("x").as("px")).as("p")
      a.join(p, col("a.event_type") === col("p.event_type") &&
          col("p.d") === date_sub(col("a.d"), 7))
        .select(col("a.event_type").as("event_type"),
          (col("a.x") - col("px")).as("diff"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("diff"))).as("sad"), sum(col("diff")).as("sd"))
        .select(col("event_type"), col("n_days"),
          (col("sad").cast("double") / col("n_days").cast("double")).as("mae"),
          (col("sd").cast("double") / col("n_days").cast("double")).as("bias"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      j AS (SELECT a.event_type, a.x - p.x AS diff
        FROM daily a JOIN daily p
          ON a.event_type = p.event_type AND p.d = a.d - 7)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(abs(diff)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        CAST(SUM(diff) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bias
      FROM j GROUP BY event_type
      ORDER BY event_type"""),
    covers = Seq("TS-backtest"))

  // ------------------------------------------------- change-point scan
  // Largest regime shift per event type: for each day index t of D,
  // the scaled deviation of the prefix count from the uniform path,
  // |D·P_t − t·T| — an exact-integer CUSUM-style scan; the reported
  // day maximizes it (ties → earliest day). Prefix sums are one
  // window per type; the argmax is one more.
  private val q335 = QueryDef(
    "q335_changepoint_scan",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val pref = daily
        .withColumn("p", sum(col("x")).over(w))
        .withColumn("t", row_number().over(w).cast(LongType))
      val tot = pref.groupBy("event_type")
        .agg(max(col("p")).as("total"), max(col("t")).as("dd"))
      val dev = pref.join(tot, Seq("event_type"))
        .withColumn("dev",
          abs(col("dd") * col("p") - col("t") * col("total")))
      val wPick = Window.partitionBy("event_type")
        .orderBy(desc("dev"), asc("d"))
      dev.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("changepoint_day"),
          col("t").as("day_index"), col("dd").as("n_days"),
          (col("dev").cast("double") /
            (col("dd") * col("total")).cast("double")).as("magnitude"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      pref AS (SELECT event_type, d, x,
          CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
            AS p,
          CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
            AS BIGINT) AS t
        FROM daily),
      tot AS (SELECT event_type, MAX(p) AS total, MAX(t) AS dd
              FROM pref GROUP BY event_type),
      dev AS (SELECT pref.event_type, d, t, dd, total,
          abs(dd * p - t * total) AS dev
        FROM pref JOIN tot USING (event_type)),
      pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY dev DESC, d) AS rn FROM dev)
      SELECT event_type, d AS changepoint_day, t AS day_index, dd AS n_days,
        CAST(dev AS DOUBLE) / CAST(dd * total AS DOUBLE) AS magnitude
      FROM pick WHERE rn = 1
      ORDER BY event_type"""),
    covers = Seq("TS-changepoint"))

  // ------------------------------------------------- peak days
  // Local-maximum detection on the daily volume series per event
  // type: days strictly above both neighbors (lag/lead over the date
  // order), counted and the tallest peak reported — the alarm-day
  // census of a monitoring pipeline.
  private val q347 = QueryDef(
    "q347_peak_days",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val flagged = daily
        .withColumn("prev", lag(col("x"), 1).over(w))
        .withColumn("nxt", lead(col("x"), 1).over(w))
        .filter(col("prev").isNotNull && col("nxt").isNotNull)
        .withColumn("is_peak", col("x") > col("prev") && col("x") > col("nxt"))
      flagged.groupBy("event_type")
        .agg(count(lit(1)).as("n_interior_days"),
          sum(when(col("is_peak"), 1L).otherwise(0L)).as("n_peaks"),
          max(when(col("is_peak"), col("x")).otherwise(lit(null)))
            .as("tallest_peak"))
        .withColumn("peak_rate",
          col("n_peaks").cast("double") / col("n_interior_days").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      f AS (SELECT event_type, x,
          lag(x) OVER (PARTITION BY event_type ORDER BY d) AS prev,
          lead(x) OVER (PARTITION BY event_type ORDER BY d) AS nxt
        FROM daily)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_interior_days,
        CAST(SUM(CASE WHEN x > prev AND x > nxt THEN 1 ELSE 0 END)
          AS BIGINT) AS n_peaks,
        MAX(CASE WHEN x > prev AND x > nxt THEN x END) AS tallest_peak,
        CAST(SUM(CASE WHEN x > prev AND x > nxt THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS peak_rate
      FROM f WHERE prev IS NOT NULL AND nxt IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type"""),
    covers = Seq("TS-peaks"))

  // ------------------------------------------------- seasonality strength
  // How much of the daily-volume variance the weekday explains:
  // R² = SS_between(dow)/SS_total per event type. Group moments are
  // exact longs; the 7 rational dow terms S_d²/n_d fold in fixed dow
  // order (aggregate ↔ list_reduce), the rest is one division.
  private val q352 = QueryDef(
    "q352_seasonality_strength",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", dayofweek(col("d")).cast(LongType))
      val byDow = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .withColumn("v", col("sx").cast("double") * col("sx").cast("double") /
          col("n").cast("double"))
      val folded = byDow.groupBy("event_type")
        .agg(sum(col("n")).as("nn"), sum(col("sx")).as("gsx"),
          aggregate(sort_array(collect_list(struct(col("dow"), col("v")))),
            lit(0.0d), (acc, x) => acc + x.getField("v")).as("fold"))
      val tot = daily.groupBy("event_type")
        .agg(sum(col("x") * col("x")).as("sxx"))
      folded.join(tot, Seq("event_type"))
        .select(col("event_type"), col("nn").as("n_days"),
          ((col("fold") - col("gsx").cast("double") * col("gsx").cast("double")
            / col("nn").cast("double")) /
            (col("sxx").cast("double") - col("gsx").cast("double") *
              col("gsx").cast("double") / col("nn").cast("double")))
            .as("seasonality_r2"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      dd AS (SELECT event_type,
          CAST(dayofweek(d) AS BIGINT) + 1 AS dow, x FROM daily),
      byd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx
        FROM dd GROUP BY event_type, dow),
      tm AS (SELECT event_type, dow, n, sx,
          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS v
        FROM byd),
      f AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(sx) AS BIGINT) AS gsx,
          CAST(0 AS DOUBLE) + list_reduce(list(v ORDER BY dow),
            (a, b) -> a + b) AS fold
        FROM tm GROUP BY event_type),
      tot AS (SELECT event_type, CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM daily GROUP BY event_type)
      SELECT event_type, nn AS n_days,
        (fold - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)
            / CAST(nn AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)
            / CAST(nn AS DOUBLE)) AS seasonality_r2
      FROM f JOIN tot USING (event_type)
      ORDER BY event_type"""),
    covers = Seq("TS-seasonality-r2"))

  // ------------------------------------------------- daily mix stability
  // Day-over-day total-variation distance of the event-type mix: per
  // day the 5-type share vector, TV against the previous day as a
  // fixed-order fold over types (shares are rational doubles, the
  // fold order is pinned), then only order-independent summaries (max,
  // count above 0.1) — no unordered double summation anywhere.
  private val q364 = QueryDef(
    "q364_daily_mix_stability",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.groupBy("d").agg(sum(col("x")).as("td"))
      val shares = daily.join(tot, Seq("d"))
        .select(col("d"), col("event_type"),
          (col("x").cast("double") / col("td").cast("double")).as("sh"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val withPrev = shares
        .withColumn("prev_sh", lag(col("sh"), 1).over(w))
        .withColumn("prev_d", lag(col("d"), 1).over(w))
        .filter(col("prev_sh").isNotNull &&
          col("prev_d") === date_sub(col("d"), 1))
        .withColumn("term", abs(col("sh") - col("prev_sh")))
      val tv = withPrev.groupBy("d")
        .agg((aggregate(
          sort_array(collect_list(struct(col("event_type"), col("term")))),
          lit(0.0d), (a, x) => a + x.getField("term")) / lit(2.0d)).as("tv"),
          count(lit(1)).as("n_types"))
        .filter(col("n_types") === 5)
      tv.agg(count(lit(1)).as("n_days"),
        max(col("tv")).as("max_tv"),
        sum(when(col("tv") > 0.1, 1L).otherwise(0L)).as("n_unstable"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY d, event_type),
      tot AS (SELECT d, CAST(SUM(x) AS BIGINT) AS td FROM daily GROUP BY d),
      sh AS (SELECT d, event_type,
          CAST(x AS DOUBLE) / CAST(td AS DOUBLE) AS sh
        FROM daily JOIN tot USING (d)),
      wp AS (SELECT d, event_type, sh,
          lag(sh) OVER (PARTITION BY event_type ORDER BY d) AS prev_sh,
          lag(d) OVER (PARTITION BY event_type ORDER BY d) AS prev_d
        FROM sh),
      terms AS (SELECT d, event_type, abs(sh - prev_sh) AS term
        FROM wp WHERE prev_sh IS NOT NULL AND prev_d = d - 1),
      tv AS (SELECT d,
          (CAST(0 AS DOUBLE) + list_reduce(list(term ORDER BY event_type),
            (a, b) -> a + b)) / CAST(2 AS DOUBLE) AS tv,
          CAST(COUNT(*) AS BIGINT) AS n_types
        FROM terms GROUP BY d)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        MAX(tv) AS max_tv,
        CAST(SUM(CASE WHEN tv > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unstable
      FROM tv WHERE n_types = 5"""),
    covers = Seq("TS-mix-stability"))

  // ------------------------------------------------- post-peak decay
  // What happens the day after the spike: each type's tallest day
  // (ties → earliest) and the next-day retention x_next/x_peak — the
  // decay profile of traffic spikes. Peak pick and neighbor read are
  // two windows over the date order.
  private val q365 = QueryDef(
    "q365_post_peak_decay",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val withNext = daily
        .withColumn("next_x", lead(col("x"), 1).over(w))
        .withColumn("next_d", lead(col("d"), 1).over(w))
      val pick = Window.partitionBy("event_type").orderBy(desc("x"), asc("d"))
      withNext.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("peak_day"),
          col("x").as("peak_events"),
          when(col("next_d") === date_add(col("d"), 1), col("next_x"))
            .otherwise(lit(null)).as("next_day_events"),
          when(col("next_d") === date_add(col("d"), 1),
            col("next_x").cast("double") / col("x").cast("double"))
            .otherwise(lit(null)).as("retention"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      wn AS (SELECT event_type, d, x,
          lead(x) OVER (PARTITION BY event_type ORDER BY d) AS next_x,
          lead(d) OVER (PARTITION BY event_type ORDER BY d) AS next_d
        FROM daily),
      pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY x DESC, d) AS rn FROM wn)
      SELECT event_type, d AS peak_day, x AS peak_events,
        CASE WHEN next_d = d + 1 THEN next_x END AS next_day_events,
        CASE WHEN next_d = d + 1
          THEN CAST(next_x AS DOUBLE) / CAST(x AS DOUBLE) END AS retention
      FROM pick WHERE rn = 1
      ORDER BY event_type"""),
    covers = Seq("TS-peak-decay"))

  // ------------------------------------------------- robust anomaly days
  // Robust anomaly census: a day is anomalous for a type when its
  // count deviates from the type's MEDIAN by more than 3× the MAD
  // (both exact order statistics over integer counts — no mean/sd to
  // be dragged by the outliers being hunted). Reports the anomaly
  // count and rate per type.
  private val q372 = QueryDef(
    "q372_robust_anomaly_days",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val med = daily.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .cast(LongType).as("med"))
      val dev = daily.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs(col("x") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
          .cast(LongType).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          first(col("med")).as("median_daily"),
          first(col("mad")).as("mad"),
          sum(when(col("ad") > col("mad") * 3, 1L).otherwise(0L))
            .as("n_anomalies"))
        .withColumn("anomaly_rate",
          col("n_anomalies").cast("double") / col("n_days").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      med AS (SELECT event_type,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT)
            AS med
        FROM daily GROUP BY event_type),
      dev AS (SELECT daily.event_type, x, med, abs(x - med) AS ad
        FROM daily JOIN med USING (event_type)),
      mad AS (SELECT event_type,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) AS BIGINT)
            AS mad
        FROM dev GROUP BY event_type)
      SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        MIN(med) AS median_daily, MIN(mad) AS mad,
        CAST(SUM(CASE WHEN ad > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_anomalies,
        CAST(SUM(CASE WHEN ad > mad * 3 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS anomaly_rate
      FROM dev JOIN mad USING (event_type)
      GROUP BY dev.event_type
      ORDER BY dev.event_type"""),
    covers = Seq("TS-robust-anomaly"))

  // ------------------------------------------------- quantile series
  // Order-value quantiles as a monthly time series: P50/P90/P99 in
  // exact cents per month — the percentile control chart, one grouped
  // order-statistic pass.
  private val q375 = QueryDef(
    "q375_monthly_value_quantiles",
    (s, dir) => {
      val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      Tables.load(s, dir, "orders")
        .select(date_trunc("month", to_date(col("o_orderdate")))
          .cast("date").as("month"), cents.as("c"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p50_cents"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p90_cents"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p99_cents"))
        .orderBy("month")
    },
    Some("""SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
          AS DATE) AS month,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p50_cents,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p90_cents,
        CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p99_cents
      FROM orders
      GROUP BY month
      ORDER BY month"""),
    covers = Seq("TS-quantile-series"))

  // ------------------------------------------------- MoM growth
  // Month-over-month revenue growth: exact DECIMAL monthly revenue,
  // growth = (m − prev)/prev only when the previous CALENDAR month
  // exists (a lag over a gappy series would silently compare across
  // holes). One window over the month order.
  private val q381 = QueryDef(
    "q381_mom_growth",
    (s, dir) => {
      val monthly = Tables.load(s, dir, "orders")
        .groupBy(date_trunc("month", to_date(col("o_orderdate")))
          .cast("date").as("month"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).as("rev"),
          count(lit(1)).as("n_orders"))
      val w = Window.orderBy("month")
      monthly
        .withColumn("prev_rev", lag(col("rev"), 1).over(w))
        .withColumn("prev_m", lag(col("month"), 1).over(w))
        .select(col("month"), col("n_orders"),
          col("rev").cast("double").as("revenue"),
          when(col("prev_m") === add_months(col("month"), -1),
            (col("rev") - col("prev_rev")).cast("double") /
              col("prev_rev").cast("double"))
            .otherwise(lit(null)).as("mom_growth"))
        .orderBy("month")
    },
    Some("""WITH monthly AS (SELECT
          CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
            AS month,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS rev,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY month),
      l AS (SELECT month, n_orders, rev,
          lag(rev) OVER (ORDER BY month) AS prev_rev,
          lag(month) OVER (ORDER BY month) AS prev_m
        FROM monthly)
      SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
        CASE WHEN prev_m = month - INTERVAL 1 MONTH
          THEN CAST(rev - prev_rev AS DOUBLE) / CAST(prev_rev AS DOUBLE)
        END AS mom_growth
      FROM l ORDER BY month"""),
    covers = Seq("TS-mom-growth"))

  // ------------------------------------------------- seasonal autocorr
  // Lag-24h autocorrelation of the hourly volume series per event
  // type — does the daily cycle actually repeat? The series joins
  // itself at exactly +24 hours (epoch-hour integers), the
  // correlation comes from the q322 integer-sufficient-statistics
  // pattern over the matched pairs.
  private val q388 = QueryDef(
    "q388_hourly_seasonal_autocorr",
    (s, dir) => {
      val hourly = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("x"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val j = hourly.as("a").join(hourly.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.h") === col("a.h") + 24)
        .select(col("a.event_type").as("event_type"),
          col("a.x").as("x"), col("b.x").as("y"))
      val g = j.groupBy("event_type")
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
        .select(col("event_type"), col("n").as("n_pairs"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("autocorr_24h"))
        .orderBy("event_type")
    },
    Some("""WITH hourly AS (SELECT event_type,
          epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, h),
      j AS (SELECT a.event_type, a.x AS x, b.x AS y
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND b.h = a.h + 24),
      g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM j GROUP BY event_type),
      f AS (SELECT event_type, n,
          CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT event_type, n AS n_pairs,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE)))
          AS autocorr_24h
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY event_type"""),
    covers = Seq("TS-seasonal-autocorr"))

  // ------------------------------------------------- longest quiet period
  // Outage / data-loss detector: per event type, the longest run of
  // consecutive missing days between active days (max lag gap − 1)
  // and when it started — one lag window over the active-day set, no
  // calendar spine needed.
  private val q392 = QueryDef(
    "q392_longest_quiet_period",
    (s, dir) => {
      val days = Tables.load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d")).distinct()
      val w = Window.partitionBy("event_type").orderBy("d")
      val gaps = days
        .withColumn("prev", lag(col("d"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("quiet", datediff(col("d"), col("prev")).cast(LongType) - 1L)
      val pick = Window.partitionBy("event_type")
        .orderBy(desc("quiet"), asc("d"))
      gaps.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
        .select(col("event_type"), col("quiet").as("max_quiet_days"),
          col("prev").as("quiet_started_after"),
          col("d").as("resumed_on"))
        .orderBy("event_type")
    },
    Some("""WITH days AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d
          FROM events),
      g AS (SELECT event_type, d,
          lag(d) OVER (PARTITION BY event_type ORDER BY d) AS prev
        FROM days),
      q AS (SELECT event_type, d, prev,
          CAST(d - prev AS BIGINT) - 1 AS quiet
        FROM g WHERE prev IS NOT NULL),
      pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY quiet DESC, d) AS rn FROM q)
      SELECT event_type, quiet AS max_quiet_days,
        prev AS quiet_started_after, d AS resumed_on
      FROM pick WHERE rn = 1
      ORDER BY event_type"""),
    covers = Seq("TS-quiet-period"))

  // ------------------------------------------------- DAU/MAU
  // Product-analytics stickiness: per day, distinct active users
  // (DAU) over distinct users active in the trailing 28 days (MAU),
  // one exact division. The MAU window is materialized by fanning
  // each user-day out to the 28 days it keeps the user "monthly
  // active" — exact at gate scale; the sketch path at 100 TB is the
  // same query with the KMV aggregate replacing count_distinct.
  private val q441 = QueryDef(
    "q441_dau_mau_stickiness",
    (s, dir) => {
      val ud = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val mau = ud
        .select(col("user_id"),
          explode(sequence(col("day"),
            date_add(col("day"), 27))).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("mau"))
      dau.join(mau, Seq("day"))
        .select(col("day"), col("dau"), col("mau"),
          (col("dau").cast("double") / col("mau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          CAST(ts AS DATE) AS day FROM events),
      dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY day),
      fan AS (SELECT DISTINCT user_id, day + CAST(off AS INTEGER) AS day
        FROM ud, (SELECT unnest(range(0, 28)) AS off)),
      mau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS mau
        FROM fan GROUP BY day)
      SELECT d.day, d.dau, m.mau,
        CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
      FROM dau d JOIN mau m ON m.day = d.day
      ORDER BY d.day"""),
    covers = Seq("STREAM-dau-mau"))

  // ------------------------------------------------- growth accounting
  // Weekly active-user growth accounting: every week's actives split
  // into new (first week ever), retained (also active last week),
  // and resurrected (returning after a gap); churned counts last
  // week's actives who went silent. The quick ratio
  // (new+resurrected)/churned is the one division. All sets are
  // exact distinct (user, week) memberships — two self-joins at
  // user-week grain.
  private val q451 = QueryDef(
    "q451_growth_accounting",
    (s, dir) => {
      val uw = Tables.load(s, dir, "events")
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")),
            lit("2024-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"))
        .distinct()
      val first = uw.groupBy("user_id").agg(min("wk").as("first_wk"))
      val prev = uw.select(col("user_id"), (col("wk") + 1L).as("wk"),
        lit(true).as("was_active"))
      val cur = uw.join(broadcast(first), Seq("user_id"))
        .join(prev, Seq("user_id", "wk"), "left")
        .withColumn("was_active", coalesce(col("was_active"), lit(false)))
      val flows = cur.groupBy("wk")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("wk") > col("first_wk") && col("was_active"), 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(col("wk") > col("first_wk") && !col("was_active"), 1L)
            .otherwise(0L)).as("n_resurrected"))
      val churn = uw.select(col("user_id"), (col("wk") + 1L).as("wk"))
        .join(uw, Seq("user_id", "wk"), "left_anti")
        .groupBy("wk").agg(count(lit(1)).as("n_churned"))
      flows.join(churn, Seq("wk"), "left")
        .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
        .withColumn("quick_ratio",
          (col("n_new") + col("n_resurrected")).cast("double") /
            when(col("n_churned") === 0L, lit(null))
              .otherwise(col("n_churned")).cast("double"))
        .select(col("wk"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"), col("n_churned"),
          col("quick_ratio"))
        .orderBy("wk")
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id,
          CAST(floor(date_diff('day', DATE '2024-01-01',
            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
        FROM events),
      fw AS (SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY 1),
      cur AS (SELECT u.user_id, u.wk, f.first_wk,
          (p.user_id IS NOT NULL) AS was_active
        FROM uw u JOIN fw f ON f.user_id = u.user_id
        LEFT JOIN uw p ON p.user_id = u.user_id AND p.wk = u.wk - 1),
      flows AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_active,
          CAST(COUNT(*) FILTER (WHERE wk = first_wk) AS BIGINT) AS n_new,
          CAST(COUNT(*) FILTER (WHERE wk > first_wk AND was_active)
            AS BIGINT) AS n_retained,
          CAST(COUNT(*) FILTER (WHERE wk > first_wk AND NOT was_active)
            AS BIGINT) AS n_resurrected
        FROM cur GROUP BY wk),
      churn AS (SELECT u.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT)
            AS n_churned
        FROM uw u LEFT JOIN uw nxt
          ON nxt.user_id = u.user_id AND nxt.wk = u.wk + 1
        WHERE nxt.user_id IS NULL
        GROUP BY u.wk + 1)
      SELECT f.wk, f.n_active, f.n_new, f.n_retained, f.n_resurrected,
        COALESCE(c.n_churned, 0) AS n_churned,
        CAST(f.n_new + f.n_resurrected AS DOUBLE) /
          CAST(NULLIF(COALESCE(c.n_churned, 0), 0) AS DOUBLE)
          AS quick_ratio
      FROM flows f LEFT JOIN churn c ON c.wk = f.wk
      ORDER BY f.wk"""),
    covers = Seq("STREAM-growth-accounting"))

  // ------------------------------------------------- SAX symbols
  // SAX symbolization of the weeklyOrderDays order-arrival series: quartile
  // breakpoints (exact percentile_disc picks over the weeklyOrderDays sums)
  // map each week to one of four symbols. The dimensionality
  // reduction that turns a numeric series into a string queryable
  // with plain grouping — downstream of this, pattern mining is
  // count algebra.
  private val q457 = QueryDef(
    "q457_sax_symbolization",
    (s, dir) => {
      val wkly = weeklyOrderDays(s, dir).filter(col("nd") === 7)
      val cuts = wkly.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY s_w)")
          .cast(LongType).as("b1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY s_w)")
          .cast(LongType).as("b2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY s_w)")
          .cast(LongType).as("b3"))
      wkly.crossJoin(broadcast(cuts))
        .select(col("wk"), col("s_w"),
          when(col("s_w") <= col("b1"), "a")
            .when(col("s_w") <= col("b2"), "b")
            .when(col("s_w") <= col("b3"), "c")
            .otherwise("d").as("symbol"))
        .orderBy("wk")
    },
    Some(s"""WITH $weeklyOrderDaysSql,
      cw AS (SELECT wk, s_w FROM weekly WHERE nd = 7),
      cuts AS (SELECT
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b1,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b2,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b3
        FROM cw)
      SELECT wk, s_w,
        CASE WHEN s_w <= b1 THEN 'a' WHEN s_w <= b2 THEN 'b'
          WHEN s_w <= b3 THEN 'c' ELSE 'd' END AS symbol
      FROM cw CROSS JOIN cuts ORDER BY wk"""),
    covers = Seq("TS-sax"))

  // ------------------------------------------------- SAX motifs
  // Motif mining over the symbolized series: sliding trigrams of
  // consecutive week-symbols, counted exactly — the most frequent
  // words of the series' language ("bbb" = quiet plateau, "add" =
  // spike onset). Top-10 by (count, trigram); first occurrence
  // rides along for drill-down.
  private val q458 = QueryDef(
    "q458_sax_motifs",
    (s, dir) => {
      val sax = graft.SparkEntry
        .queries("q457_sax_symbolization")(s, dir)
      val w = Window.orderBy("wk")
      val tri = sax
        .withColumn("nxt", lead(col("symbol"), 1).over(w))
        .withColumn("nxt2", lead(col("symbol"), 2).over(w))
        .withColumn("wk_next", lead(col("wk"), 1).over(w))
        .withColumn("wk_next2", lead(col("wk"), 2).over(w))
        .filter(col("nxt2").isNotNull &&
          col("wk_next") === col("wk") + 1 &&
          col("wk_next2") === col("wk") + 2)
        .select(col("wk"),
          concat(col("symbol"), col("nxt"), col("nxt2")).as("trigram"))
      tri.groupBy("trigram")
        .agg(count(lit(1)).as("n_occ"), min("wk").as("first_wk"))
        .orderBy(col("n_occ").desc, col("trigram"))
        .limit(10)
    },
    Some(s"""WITH $weeklyOrderDaysSql,
      cw AS (SELECT wk, s_w FROM weekly WHERE nd = 7),
      cuts AS (SELECT
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b1,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b2,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b3
        FROM cw),
      sax AS (SELECT wk,
          CASE WHEN s_w <= b1 THEN 'a' WHEN s_w <= b2 THEN 'b'
            WHEN s_w <= b3 THEN 'c' ELSE 'd' END AS symbol
        FROM cw CROSS JOIN cuts),
      tri AS (SELECT wk,
          symbol || lead(symbol, 1) OVER (ORDER BY wk)
            || lead(symbol, 2) OVER (ORDER BY wk) AS trigram,
          lead(wk, 1) OVER (ORDER BY wk) AS wk_next,
          lead(wk, 2) OVER (ORDER BY wk) AS wk_next2
        FROM sax)
      SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n_occ,
        CAST(MIN(wk) AS BIGINT) AS first_wk
      FROM tri
      WHERE trigram IS NOT NULL AND wk_next = wk + 1
        AND wk_next2 = wk + 2
      GROUP BY trigram ORDER BY n_occ DESC, trigram LIMIT 10"""),
    covers = Seq("TS-motif"))

  // ------------------------------------------------- 1-D discord
  // Discord detection: the weeks most unlike every other week — 1-D
  // nearest-neighbor distance on weeklyOrderDays totals, computed exactly
  // from the two value-order neighbors after a sort (the 1-D
  // specialization of matrix-profile discords: O(n log n), not
  // O(n²)). Top-5 by (gap, wk).
  private val q459 = QueryDef(
    "q459_series_discord",
    (s, dir) => {
      val wkly = weeklyOrderDays(s, dir).filter(col("nd") === 7).select("wk", "s_w")
      val w = Window.orderBy(col("s_w"), col("wk"))
      val nn = wkly
        .withColumn("prev", lag(col("s_w"), 1).over(w))
        .withColumn("nxt", lead(col("s_w"), 1).over(w))
        .withColumn("nn_gap",
          least(coalesce(abs(col("s_w") - col("prev")), lit(Long.MaxValue)),
            coalesce(abs(col("s_w") - col("nxt")), lit(Long.MaxValue))))
      val wr = Window.orderBy(col("nn_gap").desc, col("wk"))
      nn.withColumn("rnk", row_number().over(wr).cast(LongType))
        .filter(col("rnk") <= 5)
        .select(col("rnk"), col("wk"), col("s_w"), col("nn_gap"))
        .orderBy("rnk")
    },
    Some(s"""WITH $weeklyOrderDaysSql,
      cw AS (SELECT wk, s_w FROM weekly WHERE nd = 7),
      nn AS (SELECT wk, s_w,
          LEAST(
            COALESCE(ABS(s_w - lag(s_w, 1) OVER (ORDER BY s_w, wk)),
              9223372036854775807),
            COALESCE(ABS(s_w - lead(s_w, 1) OVER (ORDER BY s_w, wk)),
              9223372036854775807)) AS nn_gap
        FROM cw),
      r AS (SELECT wk, s_w, nn_gap,
          CAST(row_number() OVER (ORDER BY nn_gap DESC, wk) AS BIGINT)
            AS rnk
        FROM nn)
      SELECT rnk, wk, s_w, nn_gap FROM r WHERE rnk <= 5
      ORDER BY rnk"""),
    covers = Seq("TS-discord"))

  // ------------------------------------------------- dow bands
  // Seasonal reference bands: per day-of-week, the quartile profile
  // of daily order counts plus a 3×IQR outlier census — all integer
  // arithmetic (the band edges are exact, so membership never
  // depends on a float). Spark's dayofweek is 1=Sunday; minus 1
  // aligns it with DuckDB's 0=Sunday.
  private val q460 = QueryDef(
    "q460_dow_profile_bands",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select((dayofweek(col("day")) - 1).cast(LongType).as("dow"),
          col("cnt"))
      val prof = daily.groupBy("dow")
        .agg(count(lit(1)).as("n_days"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cnt)")
            .cast(LongType).as("q1"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
            .cast(LongType).as("med"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cnt)")
            .cast(LongType).as("q3"))
      daily.join(broadcast(prof), Seq("dow"))
        .groupBy("dow", "n_days", "q1", "med", "q3")
        .agg(sum(when(col("cnt") > col("q3") +
            lit(3L) * (col("q3") - col("q1")), 1L).otherwise(0L))
            .as("n_hi_outliers"),
          sum(when(col("cnt") < col("q1") -
            lit(3L) * (col("q3") - col("q1")), 1L).otherwise(0L))
            .as("n_lo_outliers"))
        .orderBy("dow")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
      dd AS (SELECT CAST(dayofweek(day) AS BIGINT) AS dow, cnt
        FROM daily),
      prof AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS q1,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS med,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS q3
        FROM dd GROUP BY dow)
      SELECT d.dow, p.n_days, p.q1, p.med, p.q3,
        CAST(COUNT(*) FILTER (WHERE d.cnt > p.q3 + 3 * (p.q3 - p.q1))
          AS BIGINT) AS n_hi_outliers,
        CAST(COUNT(*) FILTER (WHERE d.cnt < p.q1 - 3 * (p.q3 - p.q1))
          AS BIGINT) AS n_lo_outliers
      FROM dd d JOIN prof p ON p.dow = d.dow
      GROUP BY d.dow, p.n_days, p.q1, p.med, p.q3
      ORDER BY d.dow"""),
    covers = Seq("TS-dow-bands"))

  // ------------------------------------------------- turning points
  // Turning-points test per segment: count strict local extrema of
  // the daily series; an exchangeable series expects 2(n−2)/3 of
  // them, so the standardized excess z = (3T − 2(n−2)) /
  // (3·sqrt((16n−29)/90)) flags over-smoothing (too few turns,
  // momentum) or over-dithering (too many, oscillation). Exact
  // integer T and n; one sqrt, one division.
  private val q461 = QueryDef(
    "q461_turning_points",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val daily = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .groupBy(col("segment"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("segment").orderBy("day")
      daily
        .withColumn("prev", lag(col("cnt"), 1).over(w))
        .withColumn("nxt", lead(col("cnt"), 1).over(w))
        .filter(col("prev").isNotNull && col("nxt").isNotNull)
        .groupBy("segment")
        .agg((count(lit(1)) + 2L).as("n_days"),
          sum(when((col("cnt") - col("prev")) *
            (col("nxt") - col("cnt")) < 0, 1L).otherwise(0L)).as("t_turns"))
        .select(col("segment"), col("n_days"), col("t_turns"),
          ((lit(3L) * col("t_turns") -
            lit(2L) * (col("n_days") - 2L)).cast("double") /
            (lit(3.0) * sqrt((lit(16L) * col("n_days") - 29L)
              .cast("double") / lit(90.0)))).as("z"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c.c_mktsegment AS segment,
          CAST(o.o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      x AS (SELECT segment, cnt,
          lag(cnt, 1) OVER (PARTITION BY segment ORDER BY day) AS prev,
          lead(cnt, 1) OVER (PARTITION BY segment ORDER BY day) AS nxt
        FROM daily),
      agg AS (SELECT segment,
          CAST(COUNT(*) + 2 AS BIGINT) AS n_days,
          CAST(COUNT(*) FILTER (WHERE (cnt - prev) * (nxt - cnt) < 0)
            AS BIGINT) AS t_turns
        FROM x WHERE prev IS NOT NULL AND nxt IS NOT NULL
        GROUP BY segment)
      SELECT segment, n_days, t_turns,
        CAST(3 * t_turns - 2 * (n_days - 2) AS DOUBLE) /
          (3.0 * sqrt(CAST(16 * n_days - 29 AS DOUBLE) / 90.0)) AS z
      FROM agg ORDER BY segment"""),
    covers = Seq("TS-turning-points"))

  // ------------------------------------------------- month-end effect
  // Do orders pile up at month end (quota-chasing)? Mean daily
  // volume over each month's last 3 calendar days vs the rest, per
  // segment — the ratio folds to S_end·n_rest/(n_end·S_rest), one
  // exact-integer division. last_day() on both engines decides
  // membership identically.
  private val q464 = QueryDef(
    "q464_month_end_effect",
    (s, dir) => {
      val seg = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val daily = Tables.load(s, dir, "orders").join(seg, Seq("o_custkey"))
        .groupBy(col("segment"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("is_end",
          datediff(last_day(col("day")), col("day")) <= 2)
      daily.groupBy("segment")
        .agg(sum(when(col("is_end"), col("cnt")).otherwise(0L)).as("s_end"),
          sum(when(col("is_end"), 1L).otherwise(0L)).as("n_end"),
          sum(when(!col("is_end"), col("cnt")).otherwise(0L)).as("s_rest"),
          sum(when(!col("is_end"), 1L).otherwise(0L)).as("n_rest"))
        .select(col("segment"), col("s_end"), col("n_end"), col("s_rest"),
          col("n_rest"),
          ((col("s_end") * col("n_rest")).cast("double") /
            (col("n_end") * col("s_rest")).cast("double")).as("end_lift"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c.c_mktsegment AS segment,
          CAST(o.o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      d AS (SELECT segment, cnt,
          (date_diff('day', day, last_day(day)) <= 2) AS is_end
        FROM daily)
      SELECT segment,
        CAST(SUM(CASE WHEN is_end THEN cnt ELSE 0 END) AS BIGINT)
          AS s_end,
        CAST(COUNT(*) FILTER (WHERE is_end) AS BIGINT) AS n_end,
        CAST(SUM(CASE WHEN NOT is_end THEN cnt ELSE 0 END) AS BIGINT)
          AS s_rest,
        CAST(COUNT(*) FILTER (WHERE NOT is_end) AS BIGINT) AS n_rest,
        CAST(SUM(CASE WHEN is_end THEN cnt ELSE 0 END) *
            COUNT(*) FILTER (WHERE NOT is_end) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE is_end) *
            SUM(CASE WHEN NOT is_end THEN cnt ELSE 0 END) AS DOUBLE)
          AS end_lift
      FROM d GROUP BY segment ORDER BY segment"""),
    covers = Seq("TS-month-end"))

  // ------------------------------------------------- decomposition
  // Classical additive seasonal decomposition, all-exact: trend =
  // centered 29-day moving sum over 29 (a rational), detrended
  // numerator 29·x − trend_num (an integer), day-of-week seasonal
  // effect Σdetr_num/(29·n_dow) — one division per dow at the very
  // end. The x = trend + seasonal + residual ledger without a single
  // float accumulation.
  private val q477 = QueryDef(
    "q477_seasonal_decompose",
    (s, dir) => {
      val d = daily(s, dir)
      val w = Window.orderBy("di").rowsBetween(-14, 14)
      val detr = d
        .withColumn("tnum", sum("x").over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") === 29)
        .withColumn("dnum", lit(29L) * col("x") - col("tnum"))
      detr.groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("dnum").as("snum"))
        .select(col("dow"), col("n_days"),
          (col("snum").cast("double") /
            (lit(29L) * col("n_days")).cast("double"))
            .as("seasonal_effect"))
        .orderBy("dow")
    },
    Some(s"""WITH $dailySql,
      detr AS (SELECT dow,
          29 * x - CAST(SUM(x) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS BIGINT)
            AS dnum,
          COUNT(*) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS nw
        FROM daily)
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(dnum) AS DOUBLE) /
          CAST(29 * COUNT(*) AS DOUBLE) AS seasonal_effect
      FROM detr WHERE nw = 29 GROUP BY dow ORDER BY dow"""),
    covers = Seq("TS-seasonal-decompose"))

  // ------------------------------------------------- SES
  // Simple exponential smoothing over the completeWeeks series, α = 0.2:
  // the level recurrence folds left over weeks on the Spark driver
  // and runs as a RECURSIVE CTE in DuckDB — the same sequential
  // float chain, so the final level and the holdout MAE (|errors|
  // folded in week order) are bit-identical. One-step-ahead errors
  // score the last 52 weeks.
  private val q478 = QueryDef(
    "q478_ses_forecast",
    (s, dir) => {
      // complete weeks re-indexed densely (the calendar has gap
      // weeks), so the sequential chain never breaks — mirrored by
      // the oracle's row_number re-index
      // bounded-collect: completeWeeks series — O(calendar weeks), not corpus
      val wk = completeWeeks(s, dir).orderBy("wk")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val alpha = 0.2
      var level = wk.head._2.toDouble
      val n = wk.length
      val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (i <- 1 until n) {
        val x = wk(i)._2.toDouble
        if (i >= n - 52) errs += math.abs(x - level)
        level = alpha * x + (1.0 - alpha) * level
      }
      // a 0/1-week series has no one-step errors; the oracle's
      // list_reduce over an empty list is NULL — mirror it instead of
      // throwing (only reachable below the gate SF, e.g. sf0.001)
      val mae: Option[Double] =
        if (errs.isEmpty) None else Some(errs.reduceLeft(_ + _) / 52.0)
      import s.implicits._
      Seq((n.toLong, level, mae))
        .toDF("n_weeks", "final_level", "mae_52")
    },
    Some(s"""WITH RECURSIVE $completeWeeksSql,
      wt AS (SELECT s_w, CAST(row_number() OVER (ORDER BY wk)
          AS BIGINT) AS t FROM weekly),
      bounds AS (SELECT MAX(t) AS tmax FROM wt),
      ses AS (
        SELECT w.t, CAST(w.s_w AS DOUBLE) AS level
        FROM wt w WHERE w.t = 1
        UNION ALL
        SELECT w.t,
          CAST(0.2 AS DOUBLE) * CAST(w.s_w AS DOUBLE) +
            CAST(0.8 AS DOUBLE) * s.level
        FROM wt w JOIN ses s ON w.t = s.t + 1),
      errs AS (SELECT w.t, ABS(CAST(w.s_w AS DOUBLE) - s.level) AS e
        FROM wt w JOIN ses s ON s.t = w.t - 1, bounds b
        WHERE w.t > b.tmax - 52)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wt) AS n_weeks,
        (SELECT level FROM ses, bounds b WHERE t = b.tmax)
          AS final_level,
        (SELECT list_reduce(list(e ORDER BY t), (a, b) -> a + b) / 52.0
          FROM errs) AS mae_52"""),
    covers = Seq("TS-ses"))

  // ------------------------------------------------- forecast battery
  // The honest baselines every forecast must beat, scored on the
  // last 52 complete weeks with EXACT arithmetic: naive (last train
  // value), seasonal-naive (52 weeks prior), drift (linear through
  // first/last train points — errors scaled by T−1 stay integral).
  // Each MAE is one terminal division.
  private val q479 = QueryDef(
    "q479_forecast_battery",
    (s, dir) => {
      val wkAll = completeWeeks(s, dir).localCheckpoint()
      val maxWk = wkAll.agg(max("wk").as("wmax"))
      val wk = wkAll.crossJoin(broadcast(maxWk))
      val train = wk.filter(col("wk") <= col("wmax") - 52)
      val t0 = train.agg(min("wk").as("w1"), max("wk").as("wt"))
      val anchors = train.crossJoin(broadcast(t0))
        .agg(max(when(col("wk") === col("w1"), col("s_w"))).as("y1"),
          max(when(col("wk") === col("wt"), col("s_w"))).as("yt"),
          max("w1").as("w1"), max("wt").as("wt"))
      val test = wk.filter(col("wk") > col("wmax") - 52)
        .select(col("wk"), col("s_w"))
      val lagged = test.join(
        wkAll.select((col("wk") + 52L).as("wk"), col("s_w").as("y_prev")),
        Seq("wk"))
      val sn = lagged.agg(count(lit(1)).as("n"),
        sum(abs(col("s_w") - col("y_prev"))).as("sae"))
        .select(lit("2_seasonal_naive").as("method"),
          (col("sae").cast("double") / col("n").cast("double")).as("mae"))
      val nv = test.crossJoin(broadcast(anchors))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("s_w") - col("yt"))).as("sae"))
        .select(lit("1_naive").as("method"),
          (col("sae").cast("double") / col("n").cast("double")).as("mae"))
      val dr = test.crossJoin(broadcast(anchors))
        .withColumn("span", col("wt") - col("w1"))
        .withColumn("enum",
          abs(col("span") * (col("s_w") - col("yt")) -
            (col("wk") - col("wt")) * (col("yt") - col("y1"))))
        .agg(count(lit(1)).as("n"), sum("enum").as("se"),
          max("span").as("span"))
        .select(lit("3_drift").as("method"),
          (col("se").cast("double") /
            (col("n") * col("span")).cast("double")).as("mae"))
      nv.unionAll(sn).unionAll(dr).orderBy("method")
    },
    Some(s"""WITH $completeWeeksSql,
      bounds AS (SELECT MAX(wk) AS wmax FROM weekly),
      train AS (SELECT w.wk, w.s_w FROM weekly w, bounds b
        WHERE w.wk <= b.wmax - 52),
      t0 AS (SELECT MIN(wk) AS w1, MAX(wk) AS wt FROM train),
      anchors AS (SELECT
          MAX(CASE WHEN tr.wk = t0.w1 THEN tr.s_w END) AS y1,
          MAX(CASE WHEN tr.wk = t0.wt THEN tr.s_w END) AS yt,
          MAX(t0.w1) AS w1, MAX(t0.wt) AS wt
        FROM train tr CROSS JOIN t0),
      test AS (SELECT w.wk, w.s_w FROM weekly w, bounds b
        WHERE w.wk > b.wmax - 52),
      sn AS (SELECT '2_seasonal_naive' AS method,
          CAST(SUM(ABS(t.s_w - p.s_w)) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS mae
        FROM test t JOIN weekly p ON p.wk = t.wk - 52),
      nv AS (SELECT '1_naive' AS method,
          CAST(SUM(ABS(t.s_w - a.yt)) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS mae
        FROM test t CROSS JOIN anchors a),
      dr AS (SELECT '3_drift' AS method,
          CAST(SUM(ABS((a.wt - a.w1) * (t.s_w - a.yt) -
            (t.wk - a.wt) * (a.yt - a.y1))) AS DOUBLE) /
            CAST(COUNT(*) * MAX(a.wt - a.w1) AS DOUBLE) AS mae
        FROM test t CROSS JOIN anchors a)
      SELECT method, mae FROM nv UNION ALL
      SELECT method, mae FROM sn UNION ALL
      SELECT method, mae FROM dr ORDER BY method"""),
    covers = Seq("TS-forecast-battery"))

  // ------------------------------------------------- intermittency
  // Syntetos-Boylan demand classification per part: ADI (weeks per
  // demand week) vs 1.32 and CV² of nonzero completeWeeks quantities vs
  // 0.49, both decided by cross-multiplied INTEGER comparisons
  // (100·T vs 132·n; 100·(nΣq²−S²) vs 49·S²). The
  // smooth/intermittent/erratic/lumpy quadrant census that picks
  // the forecasting method per SKU.
  private val q480 = QueryDef(
    "q480_intermittency_census",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"),
          col("l_quantity").cast(DecimalType(18, 2)).cast(LongType)
            .as("qty"))
      val span = li.agg((max("wk") - min("wk") + 1L).as("t_weeks"))
      val perWeek = li.groupBy("l_partkey", "wk")
        .agg(sum("qty").as("q"))
      val stats = perWeek.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sq2"))
        .crossJoin(broadcast(span))
      val classed = stats.withColumn("high_adi",
          lit(100L) * col("t_weeks") > lit(132L) * col("n"))
        .withColumn("high_cv",
          lit(100L) * (col("n") * col("sq2") - col("sq") * col("sq")) >
            lit(49L) * (col("sq") * col("sq")))
        .withColumn("class",
          when(!col("high_adi") && !col("high_cv"), "1_smooth")
            .when(col("high_adi") && !col("high_cv"), "2_intermittent")
            .when(!col("high_adi") && col("high_cv"), "3_erratic")
            .otherwise("4_lumpy"))
      val tot = classed.agg(count(lit(1)).as("np"))
      classed.groupBy("class").agg(count(lit(1)).as("n_parts"))
        .crossJoin(broadcast(tot))
        .select(col("class"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("share"))
        .orderBy("class")
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
        FROM lineitem),
      span AS (SELECT MAX(wk) - MIN(wk) + 1 AS t_weeks FROM li),
      per_week AS (SELECT l_partkey, wk, CAST(SUM(qty) AS BIGINT) AS q
        FROM li GROUP BY 1, 2),
      stats AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(q) AS BIGINT) AS sq,
          CAST(SUM(q * q) AS BIGINT) AS sq2
        FROM per_week GROUP BY 1),
      classed AS (SELECT l_partkey,
          CASE WHEN NOT (100 * sp.t_weeks > 132 * st.n)
              AND NOT (100 * (st.n * st.sq2 - st.sq * st.sq) >
                49 * (st.sq * st.sq)) THEN '1_smooth'
            WHEN (100 * sp.t_weeks > 132 * st.n)
              AND NOT (100 * (st.n * st.sq2 - st.sq * st.sq) >
                49 * (st.sq * st.sq)) THEN '2_intermittent'
            WHEN NOT (100 * sp.t_weeks > 132 * st.n)
              AND (100 * (st.n * st.sq2 - st.sq * st.sq) >
                49 * (st.sq * st.sq)) THEN '3_erratic'
            ELSE '4_lumpy' END AS class
        FROM stats st CROSS JOIN span sp)
      SELECT class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM classed) AS DOUBLE) AS share
      FROM classed GROUP BY class ORDER BY class"""),
    covers = Seq("TS-intermittency"))

  // ------------------------------------------------- seasonal strength
  // Hyndman's seasonal-strength F_s = max(0, 1 − Var(resid)/
  // Var(detrended)): residuals subtract the q477 dow effect from
  // each detrended day. Per-day values are identical double trees;
  // both variances fold over days in di order (aggregate HOF ≡
  // list_reduce), so even the two-pass variance is bit-stable.
  private val q481 = QueryDef(
    "q481_seasonal_strength",
    (s, dir) => {
      val d = daily(s, dir)
      val w = Window.orderBy("di").rowsBetween(-14, 14)
      val detr = d
        .withColumn("tnum", sum("x").over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") === 29)
        .withColumn("detr",
          (lit(29L) * col("x") - col("tnum")).cast("double") / lit(29.0))
        .localCheckpoint()
      val seas = detr
        .withColumn("dnum", lit(29L) * col("x") - col("tnum"))
        .groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("dnum").as("snum"))
        .select(col("dow"),
          (col("snum").cast("double") /
            (lit(29L) * col("n_days")).cast("double")).as("se"))
      val rows = detr.join(broadcast(seas), Seq("dow"))
        .select(col("di"), col("detr"),
          (col("detr") - col("se")).as("resid"))
      val folded = rows
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("di"), col("detr"))))
            .as("dl"),
          sort_array(collect_list(struct(col("di"), col("resid"))))
            .as("rl"))
        .withColumn("sd",
          aggregate(col("dl"), lit(0.0), (a, e) => a + e.getField("detr")))
        .withColumn("sd2",
          aggregate(col("dl"), lit(0.0),
            (a, e) => a + e.getField("detr") * e.getField("detr")))
        .withColumn("sr",
          aggregate(col("rl"), lit(0.0), (a, e) => a + e.getField("resid")))
        .withColumn("sr2",
          aggregate(col("rl"), lit(0.0),
            (a, e) => a + e.getField("resid") * e.getField("resid")))
      folded.select(col("n"),
          ((col("sd2") - col("sd") * col("sd") / col("n").cast("double")) /
            col("n").cast("double")).as("var_detr"),
          ((col("sr2") - col("sr") * col("sr") / col("n").cast("double")) /
            col("n").cast("double")).as("var_resid"))
        .withColumn("seasonal_strength",
          greatest(lit(0.0), lit(1.0) - col("var_resid") / col("var_detr")))
    },
    Some(s"""WITH $dailySql,
      detr0 AS (SELECT di, dow, x,
          CAST(SUM(x) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS BIGINT)
            AS tnum,
          COUNT(*) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS nw
        FROM daily),
      detr AS (SELECT di, dow, x, tnum,
          CAST(29 * x - tnum AS DOUBLE) / 29.0 AS detr
        FROM detr0 WHERE nw = 29),
      seas AS (SELECT dow,
          CAST(SUM(29 * x - tnum) AS DOUBLE) /
            CAST(29 * COUNT(*) AS DOUBLE) AS se
        FROM detr GROUP BY dow),
      rows_ AS (SELECT d.di, d.detr, d.detr - s.se AS resid
        FROM detr d JOIN seas s ON s.dow = d.dow),
      folded AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          list_reduce(list(detr ORDER BY di), (a, b) -> a + b) AS sd,
          list_reduce(list(detr * detr ORDER BY di),
            (a, b) -> a + b) AS sd2,
          list_reduce(list(resid ORDER BY di), (a, b) -> a + b) AS sr,
          list_reduce(list(resid * resid ORDER BY di),
            (a, b) -> a + b) AS sr2
        FROM rows_)
      SELECT n,
        (sd2 - sd * sd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
          AS var_detr,
        (sr2 - sr * sr / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
          AS var_resid,
        greatest(0.0, 1.0 -
          ((sr2 - sr * sr / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) /
          ((sd2 - sd * sd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)))
          AS seasonal_strength
      FROM folded"""),
    covers = Seq("TS-seasonal-strength"))

  // ------------------------------------------------- lateness audit
  // Watermark-delay evidence: treating event_id as arrival order,
  // how far behind the running event-time high-water mark do events
  // arrive? Share late plus P50/P99/max lateness (exact microsecond
  // picks) — the table that justifies a withWatermark("X minutes")
  // choice instead of folklore. Global arrival order ⇒ one ordered
  // window at gate scale; at 100 TB the same audit runs per ingest
  // shard and takes the max.
  private val q498 = QueryDef(
    "q498_watermark_lateness",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), expr("unix_micros(ts)").as("us"))
      // running high-watermark over ALL EVENTS — row-scale on the
      // fact feed, converted from the single-partition window to the
      // two-phase value-bucketed form (round-12 window audit;
      // bit-identical by GlobalOrderSpec)
      val late = graft.operators.GlobalOrder.prefixMax(
          ev, col("event_id"), leadDesc = false,
          Seq(col("event_id")), col("us"), "hwm")
        .withColumn("late_us",
          greatest(lit(0L), col("hwm") - col("us")))
        .filter(col("hwm").isNotNull)
      late.agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY late_us)")
            .cast(LongType).as("p50_us"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY late_us)")
            .cast(LongType).as("p99_us"),
          max("late_us").as("max_us"))
        .select(col("n_events"), col("n_late"),
          (col("n_late").cast("double") / col("n_events").cast("double"))
            .as("late_share"),
          (col("p50_us").cast("double") / lit(1000000.0)).as("p50_sec"),
          (col("p99_us").cast("double") / lit(1000000.0)).as("p99_sec"),
          (col("max_us").cast("double") / lit(1000000.0)).as("max_sec"))
    },
    Some("""WITH ev AS (SELECT event_id,
          CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
      late AS (SELECT event_id, us,
          GREATEST(0, MAX(us) OVER (ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us)
            AS late_us,
          MAX(us) OVER (ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        FROM ev)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(*) FILTER (WHERE late_us > 0) AS BIGINT) AS n_late,
        CAST(COUNT(*) FILTER (WHERE late_us > 0) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS late_share,
        CAST(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY late_us)
          AS BIGINT) AS DOUBLE) / 1000000.0 AS p50_sec,
        CAST(CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_us)
          AS BIGINT) AS DOUBLE) / 1000000.0 AS p99_sec,
        CAST(MAX(late_us) AS DOUBLE) / 1000000.0 AS max_sec
      FROM late WHERE hwm IS NOT NULL"""),
    covers = Seq("STREAM-lateness-audit"))

  // ------------------------------------------------- gap sensitivity
  // How much does the session count depend on the inactivity
  // threshold? Sessions at 10/30/60-minute gaps from ONE lag pass:
  // a session starts where the user's gap exceeds the threshold —
  // exact integer micros compares, one division for events/session.
  private val q499 = QueryDef(
    "q499_session_gap_sensitivity",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      val gaps = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("gap_us", col("us") - col("prev_us"))
      // all three thresholds fold into ONE conditional aggregation
      // over one pass of the gap stream (was: a checkpoint plus a
      // separate count job per threshold), then unpivot via stack —
      // no driver action in the gate at all
      def starts(g: Long): Column =
        sum(when(col("prev_us").isNull ||
          col("gap_us") > g * 1000000L, 1L).otherwise(0L))
      gaps.agg(count(lit(1)).as("n"), starts(600L).as("s600"),
          starts(1800L).as("s1800"), starts(3600L).as("s3600"))
        .select(expr("stack(3, CAST(600 AS BIGINT), s600, " +
          "CAST(1800 AS BIGINT), s1800, CAST(3600 AS BIGINT), s3600)")
          .as(Seq("gap_seconds", "n_sessions")), col("n").as("n_events"))
        .withColumn("events_per_session",
          col("n_events").cast("double") / col("n_sessions").cast("double"))
        .orderBy("gap_seconds")
    },
    Some("""WITH gaps AS (SELECT user_id,
          CAST(epoch_us(ts) AS BIGINT) AS us,
          lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events),
      gs AS (SELECT CAST(unnest([600, 1800, 3600]) AS BIGINT)
          AS gap_seconds),
      stats AS (SELECT g.gap_seconds,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps
            WHERE prev_us IS NULL
              OR us - prev_us > g.gap_seconds * 1000000) AS n_sessions,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps) AS n_events
        FROM gs g)
      SELECT gap_seconds, n_sessions, n_events,
        CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE)
          AS events_per_session
      FROM stats ORDER BY gap_seconds"""),
    covers = Seq("STREAM-gap-sensitivity"))

  // ------------------------------------------------- streaming fold
  // End-to-end streaming correctness: the events table lands as a
  // multi-file parquet source, streams through
  // EventStreams.countsToStore (Update-mode 10-minute tumbling
  // windowed aggregation + latest-wins upsert keyed on
  // (window_start, event_type), versioned by batch id) in several
  // micro-batches (maxFilesPerTrigger=2 over 4 range-partitioned
  // files — TWO batches, the minimum that still exercises cross-batch
  // window re-emission + latest-wins upsert; per-micro-batch state
  // commit/maintenance is the gate family's dominant fixed cost, so
  // batch counts sit at each semantic's floor), and the FINAL store
  // state must equal the one-shot
  // aggregate: update mode re-emits a window's full accumulated
  // aggregate whenever a batch touches it, and the upsert keeps the
  // latest version, so the landed table is batching-invariant.
  // Lateness is effectively infinite for the gate (no late drops —
  // batching must not change the answer; production tunes it down
  // to bound state). Sums are DECIMAL in-state (exact, order-free),
  // cast to double only at the end — the engine-wide float rule.
  private val q520 = QueryDef(
    "q520_stream_windowed_fold",
    (s, dir) => withGateDir(s, "graft-stream-gate") { tmp =>
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"),
          col("value").cast(DecimalType(18, 2)).as("value"))
      // range-partition by ts so the stream sees roughly
      // chronological micro-batches, like a real feed
      val src = cachedSrc("stream", dir) { p =>
        ev.repartitionByRange(4, col("ts")).write.parquet(p.toString)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
      val store = new TableStore(s, tmp.resolve("store").toString)
      val q = EventStreams.countsToStore(stream, store, "stream_counts",
        tmp.resolve("ckpt").toString,
        windowLength = "10 minutes", lateness = "3650 days")
      try q.processAllAvailable() finally q.stop()
      store.read("stream_counts").get
        .select(
          unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("window_start_us", "event_type")
    },
    Some("""SELECT
        (epoch_us(ts) // (10*60*1000000)) * (10*60*1000000)
          AS window_start_us,
        event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start_us, event_type"""),
    covers = Seq("STREAM-windowed-fold", "§2.10a", "§2.10b"))

  // ------------------------------------------------- sessionize fold
  // The CUSTOM-STATE streaming operator (flatMapGroupsWithState)
  // under the oracle gate. Batching-invariance here comes from
  // successor-closure: with an effectively-infinite watermark delay
  // no event-time timeout ever fires, so a session emits exactly
  // when a later event of the same user arrives more than `gap`
  // after it — WHICH batch that successor rides in cannot change the
  // emitted set, only when it emits. Each user's final session stays
  // open (never emitted); the oracle reproduces that by dropping the
  // last session per user. Two determinism guards: (1) the source is
  // written as sequential ts-sliced appends, so file mtimes make
  // micro-batch delivery chronological per user (out-of-order
  // cross-batch delivery would change session splits); (2) values
  // stream as integer CENTS carried in the double field, so the
  // per-session sum is exact whatever the accumulation order.
  // Session bounds are MILLISECOND-resolution (the processor keeps
  // epoch-ms state); the oracle truncates its micros to match.
  private val q521 = QueryDef(
    "q521_stream_sessionize_fold",
    (s, dir) => withGateDir(s, "graft-sess-gate") { tmp =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100)
            .cast("long").cast("double").as("value"))
      // 4 chronological slices with deterministic mtime order (2
      // micro-batches at maxFilesPerTrigger=2 — the emitted session
      // set is slice-count invariant by successor-closure, so the
      // batch count sits at the floor that still exercises both
      // in-batch and cross-batch session emission): the file source
      // replays the feed in event-time order
      val src = cachedSrc("sess", dir) { p =>
        writeChronoSlices(ev, p, col("ts"), 4)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .as[EventStreams.Event]
      val out = tmp.resolve("out").toString
      val q = EventStreams.sessionize(stream, gapMinutes = 30,
          lateness = "3650 days")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStreams.Session], _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events").cast("long").as("n_events"),
          col("total_value").cast("long").as("total_cents"))
        .orderBy("user_id", "session_start_us")
    },
    Some("""WITH ev AS (SELECT user_id, ts, event_id,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      ordered AS (SELECT *,
          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev
        FROM ev),
      flagged AS (SELECT *, CASE WHEN prev IS NULL OR
            (epoch_us(ts) // 1000) - (epoch_us(prev) // 1000)
              > 30*60*1000
          THEN 1 ELSE 0 END AS new_s
        FROM ordered),
      numbered AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
          ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged),
      sessions AS (SELECT user_id, sid,
          (epoch_us(MIN(ts)) // 1000) * 1000 AS session_start_us,
          (epoch_us(MAX(ts)) // 1000) * 1000 AS session_end_us,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM numbered GROUP BY user_id, sid)
      SELECT user_id, session_start_us, session_end_us, n_events,
        total_cents
      FROM sessions
      WHERE sid < (SELECT MAX(sid) FROM sessions s2
        WHERE s2.user_id = sessions.user_id)
      ORDER BY user_id, session_start_us"""),
    covers = Seq("STREAM-sessionize-fold", "§2.10c"))

  // ------------------------------------------- stream-stream join fold
  // Stream-stream inner interval join under the oracle gate: clicks
  // and purchases stream as two file sources through
  // EventStreams.clickToPurchase (symmetric stateful join, both
  // sides watermarked), every match appends to parquet via
  // foreachBatch. With an effectively-infinite lateness no state is
  // ever evicted, so the drained output is exactly the BATCH join —
  // a cross-batch match emits when its later side arrives, and
  // batching can only reorder emission, never change the set. The
  // oracle is the plain SQL interval join.
  private val q522 = QueryDef(
    "q522_stream_interval_join",
    (s, dir) => withGateDir(s, "graft-ssj-gate") { tmp =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("cents").cast("double").as("value"))
      // 2 files per side at maxFilesPerTrigger=1 → two batches per
      // side: with infinite lateness the drained output equals the
      // batch join at ANY batching, so two (one cross-batch arrival
      // per side) is the discriminating minimum
      val both = cachedSrc("ssj", dir) { p =>
        clicks.repartition(2).write.parquet(p.resolve("clicks").toString)
        purch.repartition(2).write.parquet(p.resolve("purch").toString)
      }
      val srcC = both.resolve("clicks").toString
      val srcP = both.resolve("purch").toString
      val cStream = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcC)
      val pStream = s.readStream.schema(purch.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcP)
      val out = tmp.resolve("out").toString
      val q = EventStreams.clickToPurchase(cStream, pStream,
          withinMinutes = 30, lateness = "3650 days")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value").cast("long").as("purchase_cents"))
        .orderBy("user_id", "click_us", "purchase_us", "purchase_cents")
    },
    Some("""SELECT c.user_id,
        epoch_us(c.ts) AS click_us,
        epoch_us(p.ts) AS purchase_us,
        CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS purchase_cents
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      JOIN (SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
        AND p.ts >= c.ts
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 30*60*1000000
      ORDER BY c.user_id, click_us, purchase_us, purchase_cents"""),
    covers = Seq("STREAM-interval-join-fold"))

  // --------------------------------------------- quota admission fold
  // transformWithState (the Spark 4 arbitrary-state API, RocksDB
  // backend) under the oracle gate: per-user first-5 admission over
  // the chronologically-sliced stream. The per-key counter makes the
  // admitted SET equal to "first 5 by (ts, event_type) per user"
  // whenever delivery is chronological per user — which the
  // mtime-ordered slices guarantee — so the oracle is a plain
  // row_number() window. The value column is deliberately dropped
  // (zeroed) before streaming: rows identical up to the sort key make
  // same-key tie order unobservable in both engines, keeping the
  // admission boundary deterministic.
  private val q523 = QueryDef(
    "q523_stream_quota_admission",
    (s, dir) => withGateDir(s, "graft-quota-gate") { tmp =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          lit(0.0).as("value"))
      // slices ordered by MILLISECOND time + type — the same order
      // the processor sorts by (its state keys on epoch-ms), so
      // cross-batch arrival order and in-batch sort order agree and
      // both match the oracle's window ordering. 4 slices → 2
      // micro-batches: the admitted set only needs per-user
      // chronological delivery plus at least one cross-batch quota
      // carry, and every extra batch pays a RocksDB commit per state
      // instance
      val src = cachedSrc("quota", dir) { p =>
        writeChronoSlices(ev, p, col("ts"), 4)
      }.toString
      val out = tmp.resolve("out").toString
      val confKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = s.conf.getOption(confKey)
      s.conf.set(confKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = s.readStream
          .schema(ev.schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(src)
          .as[EventStreams.Event]
        val q = EventStreams.admitQuota(stream, limit = 5L)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStreams.Admitted], _: Long) =>
            batch.write.mode("append").parquet(out)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally prior match {
        case Some(v) => s.conf.set(confKey, v)
        case None    => s.conf.unset(confKey)
      }
      // ts reported at MILLISECOND resolution: the processor orders
      // by ms, so same-ms rows are interchangeable — reporting µs
      // would re-expose the unobservable tie order
      s.read.parquet(out)
        .select(col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("event_type"), col("n_admitted"))
        .orderBy("user_id", "n_admitted", "ts_ms", "event_type")
    },
    Some("""WITH r AS (SELECT user_id,
          epoch_us(ts) // 1000 AS ts_ms, event_type,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) // 1000, event_type) AS n_admitted
        FROM events)
      SELECT user_id, ts_ms, event_type,
        CAST(n_admitted AS BIGINT) AS n_admitted
      FROM r WHERE n_admitted <= 5
      ORDER BY user_id, n_admitted, ts_ms, event_type"""),
    covers = Seq("STREAM-quota-admission"))

  // --------------------------------------------- streaming dedup fold
  // dropDuplicatesWithinWatermark under the oracle: with infinite
  // lateness no key state is ever evicted, so the emitted set is
  // exactly one row per distinct (user_id, ts) — WHICH duplicate
  // survives is arrival-order-dependent, so the gate projects the
  // KEY columns only, making the surviving-row ambiguity
  // unobservable; the oracle is SELECT DISTINCT. (Production tunes
  // lateness down and the state stays watermark-bounded — the whole
  // point of the operator over plain dropDuplicates.)
  private val q524 = QueryDef(
    "q524_stream_dedup",
    (s, dir) => withGateDir(s, "graft-dedup-gate") { tmp =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          lit(0.0).as("value"))
      // 4 files / 2 batches: the surviving KEY set is batching-
      // invariant, so one cross-batch duplicate arrival discriminates
      val src = cachedSrc("dedup", dir) { p =>
        ev.repartition(4).write.parquet(p.toString)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
      val out = tmp.resolve("out").toString
      val q = EventStreams.dedupWithinWatermark(stream, lateness = "3650 days")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id", "ts_us")
    },
    Some("""SELECT DISTINCT user_id, epoch_us(ts) AS ts_us
      FROM events ORDER BY user_id, ts_us"""),
    covers = Seq("STREAM-dedup-fold"))

  // --------------------------------------------- stream-static enrich
  // The stream-static broadcast dimension join under the oracle:
  // every micro-batch left-joins the static customer dimension
  // (re-resolved per batch, broadcast, zero streaming state), so the
  // drained output is row-for-row the batch left join — streaming
  // enrichment must never drop or duplicate events whatever the
  // batching. Purchases carry exact cents; unmatched users keep NULL
  // segment (outer semantics preserved through the stream).
  private val q525 = QueryDef(
    "q525_stream_enrich",
    (s, dir) => withGateDir(s, "graft-enrich-gate") { tmp =>
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          (col("value").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      // 4 files / 2 batches: per-batch dimension re-resolution (the
      // property under test) needs ≥2 batches, no more
      val src = cachedSrc("enrich", dir) { p =>
        ev.repartition(4).write.parquet(p.toString)
      }.toString
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
      val out = tmp.resolve("out").toString
      val q = EventStreams.enrich(stream, dim, Seq("user_id"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("cents"), col("segment"))
        .orderBy("user_id", "ts_us", "cents", "segment")
    },
    Some("""SELECT e.user_id, epoch_us(e.ts) AS ts_us,
        CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        c.c_mktsegment AS segment
      FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
      WHERE e.event_type = 'purchase'
      ORDER BY e.user_id, ts_us, cents, segment"""),
    covers = Seq("STREAM-static-enrich"))

  // ---------------------------------- outer stream-stream join fold
  // The LEFT OUTER interval join — the only streaming join whose
  // output depends on the WATERMARK, not just the data: a click with
  // no purchase in its window emits (with null purchase columns)
  // only once the watermark proves no match can arrive. Determinism
  // needs two things. (1) Chronological delivery per source
  // (writeChronoSlices): the global watermark then lags every
  // arriving event, so no row is ever late-dropped and every
  // cross-batch match is found — the inner part of the output is
  // exactly the batch join. (2) The null rows are decided by the
  // FINAL watermark alone (eviction is monotone in wm):
  // wm = min(max click ts, max purchase ts) − 30 min lateness, and a
  // matchless click emits iff its whole window sits below it, i.e.
  // click_ts + 30 min (window) < wm. The oracle computes the same
  // closure predicate; clicks still inside the horizon are withheld
  // by BOTH sides. Purchase cents exact; ms/µs is moot (timestamps
  // pass through untouched).
  private val q526 = QueryDef(
    "q526_stream_outer_interval_join",
    (s, dir) => withGateDir(s, "graft-ssoj-gate") { tmp =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("cents").cast("double").as("value"))
      // 4 chrono slices per side → 2 data batches per side: the null
      // rows depend on the FINAL watermark alone and the inner rows
      // on chronological delivery — both hold at any slice count, so
      // the batch count sits at the floor that still advances the
      // watermark mid-stream (this gate led the whole bench before
      // the diet)
      val both = cachedSrc("ssoj", dir) { p =>
        writeChronoSlices(clicks, p.resolve("clicks"), col("ts"), 4)
        writeChronoSlices(purch, p.resolve("purch"), col("ts"), 4)
      }
      val cStream = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 2).parquet(both.resolve("clicks").toString)
      val pStream = s.readStream.schema(purch.schema)
        .option("maxFilesPerTrigger", 2).parquet(both.resolve("purch").toString)
      val out = tmp.resolve("out").toString
      val q = EventStreams.clickToPurchaseOuter(cStream, pStream,
          withinMinutes = 30, lateness = "30 minutes")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .select(col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value").cast("long").as("purchase_cents"))
        .orderBy("user_id", "click_us", "purchase_us", "purchase_cents")
    },
    Some("""WITH c AS (SELECT user_id, ts FROM events
          WHERE event_type = 'click'),
      p AS (SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase'),
      wm AS (SELECT LEAST((SELECT MAX(ts) FROM c),
          (SELECT MAX(ts) FROM p))
          - INTERVAL 30 MINUTES AS w),
      inner_m AS (SELECT c.user_id, c.ts AS click_ts,
          p.ts AS purchase_ts,
          CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS purchase_cents
        FROM c JOIN p ON p.user_id = c.user_id
          AND p.ts >= c.ts
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 30*60*1000000),
      no_match AS (SELECT c.user_id, c.ts AS click_ts,
          CAST(NULL AS TIMESTAMP) AS purchase_ts,
          CAST(NULL AS BIGINT) AS purchase_cents
        FROM c CROSS JOIN wm
        WHERE NOT EXISTS (SELECT 1 FROM p
            WHERE p.user_id = c.user_id AND p.ts >= c.ts
              AND epoch_us(p.ts) <= epoch_us(c.ts) + 30*60*1000000)
          AND epoch_us(c.ts) + 30*60*1000000 < epoch_us(wm.w))
      SELECT user_id, epoch_us(click_ts) AS click_us,
        epoch_us(purchase_ts) AS purchase_us, purchase_cents
      FROM (SELECT * FROM inner_m UNION ALL SELECT * FROM no_match)
      ORDER BY user_id, click_us, purchase_us, purchase_cents"""),
    covers = Seq("STREAM-outer-interval-join"))

  // ------------------------------------------------- late-drop gate
  // The watermark's DROP side, the one §2.10 behavior not yet under
  // the gate. Spark (3.4+) filters late events against the PREVIOUS
  // batch's watermark, so a drop needs the stale data to arrive two
  // triggers after the max: slice 1 is the on-time stream (everything
  // at or above an exact integer cutoff = min_us + span DIV 5,
  // including the global max, so the watermark jumps to max − 10 min
  // after it), slice 2 is the old tail — still ACCEPTED, its
  // late-filter watermark is one batch behind — and slice 3 REPLAYS
  // the tail, which by then must drop (its windows sit ≫ 20 min
  // under the watermark at every SF, so no boundary sensitivity).
  // The upserted table therefore equals the one-shot aggregate with
  // every event counted ONCE — if the engine failed to drop the
  // replay, the tail windows would double-count and the hash would
  // go red. (The one-batch-lag assumption is pinned by
  // LateDropSemanticsSpec, which asserts the per-batch emissions —
  // tail accepted in batch 1, replay emits nothing in batch 2 — so a
  // Spark upgrade that changes the filter watermark fails THERE by
  // name, not here as an apparent aggregation bug.)
  private val q527 = QueryDef(
    "q527_stream_late_drop",
    (s, dir) => withGateDir(s, "graft-late-gate") { tmp =>
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"),
          col("value").cast(DecimalType(18, 2)).as("value"))
      val bounds = ev.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      val withCut = ev.crossJoin(broadcast(bounds))
        .withColumn("cut", expr("mn + (mx - mn) DIV 5"))
      val onTime = withCut.filter(unix_micros(col("ts")) >= col("cut"))
        .select("ts", "event_type", "value")
      val lateTail = withCut.filter(unix_micros(col("ts")) < col("cut"))
        .select("ts", "event_type", "value")
      val src = cachedSrc("late", dir) { p =>
        writeOrderedSlices(Seq(onTime, lateTail, lateTail), p)
      }
      val stream = s.readStream
        .schema(onTime.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      val store = new TableStore(s, tmp.resolve("store").toString)
      val q = EventStreams.countsToStore(stream, store, "late_counts",
        tmp.resolve("ckpt").toString,
        windowLength = "10 minutes", lateness = "10 minutes")
      try q.processAllAvailable() finally q.stop()
      store.read("late_counts").get
        .select(
          unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("window_start_us", "event_type")
    },
    Some("""SELECT
        (epoch_us(ts) // (10*60*1000000)) * (10*60*1000000)
          AS window_start_us,
        event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start_us, event_type"""),
    covers = Seq("STREAM-late-drop", "§2.10d"))

  // --------------------------------- AvailableNow disruption clean
  // The reference's daily-batch contract (§2.10a) under the oracle:
  // the SAME synthetic raw disruptions q46 cleans in batch are
  // written as a JSONL directory, drained by DisruptionStream.runOnce
  // — file source + checkpoint + Trigger.AvailableNow, the exact
  // scheduled-ingest path — into a parquet sink, and the landed
  // table's per-type report must hash-match q46's DuckDB oracle
  // VERBATIM (same builder, same clock, same aggregate, same SQL).
  // One cleaner definition, two execution modes, one oracle.
  private val q528 = QueryDef(
    "q528_stream_available_now_clean",
    (s, dir) => withGateDir(s, "graft-avnow-gate") { tmp =>
      val raw = NsGates.rawFromEvents(s, dir)
      val src = cachedSrc("avnow", dir) { p =>
        raw.repartition(4).write.mode("overwrite").json(p.toString)
      }
      val q = graft.streaming.DisruptionStream.runOnce(
        s,
        src.toString,
        tmp.resolve("out").toString,
        tmp.resolve("ckpt").toString,
        NsGates.gateClock)
      q.awaitTermination()
      NsGates.cleanedReport(
        s.read.parquet(tmp.resolve("out").toString))
    },
    Some(NsGates.parityOracle),
    covers = Seq("STREAM-available-now", "§2.10a"))

  // ---------------------------------------- streaming state sizing
  private val q533 = QueryDef(
    "q533_state_sizing",
    stateSizing,
    Some(s"""
      WITH h AS (
        SELECT event_type, hz.horizon_sec,
               count(*) OVER (
                 PARTITION BY event_type, hz.horizon_sec
                 ORDER BY epoch_us(ts) // 1000000
                 RANGE BETWEEN hz.horizon_sec PRECEDING AND CURRENT ROW
               ) AS in_horizon
        FROM events
        CROSS JOIN (SELECT unnest([${HorizonsSec.mkString(", ")}]) AS horizon_sec) hz)
      SELECT event_type, horizon_sec,
             max(in_horizon) AS peak_state_rows,
             greatest(1, CAST(ceil(max(in_horizon) / $gateRowsPerInstance.0) AS BIGINT))
               AS recommended_instances
      FROM h
      GROUP BY event_type, horizon_sec
      ORDER BY event_type, horizon_sec"""),
    covers = Seq("STREAM-state-sizing"))

  val all: Seq[QueryDef] =
    Seq(q42, q83, q256, q263, q266, q268, q272, q283, q286, q317, q335, q347,
      q352, q364, q365, q372, q375, q381, q388, q392, q441, q451, q457, q458,
      q459, q460, q461, q464, q477, q478, q479, q480, q481, q498, q499, q520,
      q521, q522, q523, q524, q525, q526, q527, q528, q533)
}
