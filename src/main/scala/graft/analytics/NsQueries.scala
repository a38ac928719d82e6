package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.etl.Clock

/** The reference's six analytics queries
  * (`src/transformation/aggregators.py`) as DataFrame plans over the
  * cleaned `disruptions` (+ `stations`) tables.
  *
  * SQLite-dialect translations (SURVEY §7.4.2):
  *  - `DATE(ts)` → `to_date`; `date('now','-N days')` → injected clock;
  *  - `STRFTIME('%w')` Sunday=0 → `dayofweek - 1`;
  *  - `julianday` diffs → `unix_micros` arithmetic (exact fractional
  *    minutes);
  *  - `json_each` CSV unnest → `explode(split(...))`;
  *  - FILTER-clause window → `sum(when(cond, x))` with no otherwise
  *    (preserves FILTER's empty-set → NULL);
  *  - two-arg `MIN/MAX` → `least/greatest`.
  */
object NsQueries {

  private def csvStations(d: DataFrame): DataFrame =
    d.filter(col("affected_stations").isNotNull)
      .select(col("disruption_id"), col("impact_level"), col("duration_minutes"),
        explode(split(col("affected_stations"), ",")).as("station_code"))
      .withColumn("station_code", trim(col("station_code")))

  /** Q1 ROLLING_TREND (`aggregators.py:20-57`): per-type daily counts
    * with a 7-row sliding sum/avg over the last 30 days.
    */
  def rollingTrend(d: DataFrame, clock: Clock): DataFrame = {
    val daily = d
      .filter(col("start_time") >= date_sub(clock.date, 30))
      .groupBy(to_date(col("start_time")).as("disruption_date"), col("type"))
      .agg(
        count(lit(1)).as("incident_count"),
        avg(col("duration_minutes")).as("avg_duration_raw"))
    val w = Window.partitionBy("type").orderBy("disruption_date")
      .rowsBetween(-6, Window.currentRow)
    daily.select(
        col("disruption_date"),
        col("type"),
        col("incident_count"),
        round(col("avg_duration_raw"), 1).as("avg_duration_minutes"),
        sum(col("incident_count")).over(w).as("rolling_7day_total"),
        round(avg(col("incident_count")).over(w), 2).as("rolling_7day_avg"))
      .orderBy(desc("disruption_date"), desc("incident_count"))
  }

  /** Q2 STATION_SEVERITY (`aggregators.py:60-121`): unnest CSV station
    * codes, per-station aggregates, percentile + dense rank, risk
    * category, dimension left join.
    */
  def stationSeverity(d: DataFrame, stations: DataFrame): DataFrame = {
    val agg = csvStations(d)
      .groupBy("station_code")
      .agg(
        countDistinct(col("disruption_id")).as("total_disruptions"),
        avg(col("duration_minutes")).as("avg_dur_raw"),
        avg(col("impact_level")).as("avg_imp_raw"),
        max(col("impact_level")).as("max_impact_level"))
    val byCount = Window.orderBy("total_disruptions")
    val pct = percent_rank().over(byCount)
    agg
      .join(broadcast(stations.select("station_code", "station_name")),
        Seq("station_code"), "left")
      .select(
        col("station_code"),
        col("station_name"),
        col("total_disruptions"),
        round(col("avg_dur_raw"), 1).as("avg_duration_minutes"),
        round(col("avg_imp_raw"), 2).as("avg_impact_level"),
        round(pct, 3).as("disruption_percentile"),
        dense_rank().over(Window.orderBy(desc("total_disruptions")))
          .as("severity_rank"),
        when(pct > 0.9, "HIGH RISK")
          .when(pct > 0.7, "MEDIUM RISK")
          .otherwise("LOW RISK").as("risk_category"))
      .orderBy(desc("total_disruptions"))
  }

  /** Q3 DAY_OVER_DAY (`aggregators.py:124-176`): daily summary with
    * LAG/LEAD deltas, NULLIF-safe pct change, 7-row running total.
    */
  def dayOverDay(d: DataFrame): DataFrame = {
    val daily = d.groupBy(to_date(col("start_time")).as("disruption_date"))
      .agg(
        count(lit(1)).as("total_disruptions"),
        sum(when(col("type") === "calamity", 1).otherwise(0)).as("calamities"),
        sum(when(col("type") === "maintenance", 1).otherwise(0)).as("maintenance"),
        sum(when(col("type") === "disruption", 1).otherwise(0)).as("disruptions"),
        round(avg(col("duration_minutes")), 1).as("avg_duration"),
        max(col("impact_level")).as("max_impact"))
    val byDate = Window.orderBy("disruption_date")
    val prev = lag(col("total_disruptions"), 1).over(byDate)
    daily.select(
        col("disruption_date"),
        col("total_disruptions"),
        col("avg_duration"),
        col("max_impact"),
        prev.as("prev_day_total"),
        lead(col("total_disruptions"), 1).over(byDate).as("next_day_total"),
        (col("total_disruptions") - prev).as("dod_delta"),
        round(lit(100.0) * (col("total_disruptions") - prev) / nullif(prev, lit(0)), 1)
          .as("dod_pct_change"),
        sum(col("total_disruptions"))
          .over(byDate.rowsBetween(-6, Window.currentRow)).as("rolling_7day"))
      .orderBy(desc("disruption_date"))
  }

  /** Q4 PEAK_HOUR (`aggregators.py:179-218`): hour × day-of-week
    * buckets contrasting ROW_NUMBER / RANK / DENSE_RANK, top 20.
    * `STRFTIME('%w')` is Sunday=0 → `dayofweek(ts) - 1`.
    */
  def peakHour(d: DataFrame): DataFrame = {
    val hourly = d.filter(col("start_time").isNotNull)
      .groupBy(
        date_format(col("start_time"), "HH").as("hour_of_day"),
        (dayofweek(col("start_time")) - 1).cast("string").as("day_of_week"))
      .agg(
        count(lit(1)).as("disruption_count"),
        round(avg(col("duration_minutes")), 1).as("avg_duration"),
        round(avg(col("impact_level")), 2).as("avg_impact"))
    val byCount = Window.orderBy(desc("disruption_count"))
    hourly.select(
        element_at(
          typedLit(Map("0" -> "Sunday", "1" -> "Monday", "2" -> "Tuesday",
            "3" -> "Wednesday", "4" -> "Thursday", "5" -> "Friday",
            "6" -> "Saturday")),
          col("day_of_week")).as("day_name"),
        concat(col("hour_of_day"), lit(":00")).as("hour_label"),
        col("disruption_count"),
        col("avg_duration"),
        col("avg_impact"),
        row_number().over(byCount).as("row_num"),
        rank().over(byCount).as("rank_with_gaps"),
        dense_rank().over(byCount).as("dense_rank"))
      .orderBy(desc("disruption_count"))
      .limit(20)
  }

  /** Q5 COMPLEX_ANALYTICS (`aggregators.py:221-292`): daily per-type
    * metrics + unpartitioned rolling total, uncorrelated scalar
    * subquery (worst station above the 0.9 percentile), and the
    * FILTER-clause cancellation-rate window rewritten as `sum(when)`.
    */
  def complexAnalytics(d: DataFrame, clock: Clock): DataFrame = {
    val perType = d
      .filter(col("start_time") >= date_sub(clock.date, 30))
      .groupBy(to_date(col("start_time")).as("disruption_date"), col("type"))
      .agg(
        count(lit(1)).as("incident_count"),
        avg((unix_micros(col("end_time")) - unix_micros(col("start_time"))) / lit(6e7))
          .as("avg_dur_raw"))
    // The reference's `SUM(COUNT(*)) OVER (ORDER BY date ROWS 6
    // PRECEDING)` is ill-defined with several rows per date (frame
    // content depends on tie order); its stated intent — "7-day
    // rolling total across all types on this date" — is computed
    // deterministically: roll over per-date totals, join back.
    val dailyTot = perType.groupBy("disruption_date")
      .agg(sum(col("incident_count")).as("day_total"))
      .select(col("disruption_date"),
        sum(col("day_total")).over(Window.orderBy("disruption_date")
          .rowsBetween(-6, Window.currentRow)).as("rolling_7day_total"))
    val metrics = perType.join(dailyTot, Seq("disruption_date"))

    val stationImpact = csvStations(d)
      .groupBy("station_code")
      .agg(count(lit(1)).as("disruption_count"))
      .withColumn("severity_percentile",
        percent_rank().over(Window.orderBy("disruption_count")))
    // Uncorrelated scalar subquery (comment in the reference says
    // "correlated" but it references no outer columns — SURVEY §2.9 C2):
    // evaluated once, broadcast. agg(min) over the ≤1-row frame keeps a
    // row (null) even when no station clears the percentile.
    val worst = stationImpact.filter(col("severity_percentile") > 0.9)
      .orderBy(desc("disruption_count"), asc("station_code"))
      .limit(1)
      .agg(min(col("station_code")).as("worst_station"))

    val byDay = Window.partitionBy("disruption_date")
    metrics.crossJoin(broadcast(worst))
      .select(
        col("disruption_date"),
        col("type"),
        col("incident_count"),
        round(col("avg_dur_raw"), 2).as("avg_duration"),
        col("rolling_7day_total"),
        col("worst_station"),
        round(lit(100.0) *
          sum(when(col("type") === "cancellation", col("incident_count"))).over(byDay) /
          nullif(sum(col("incident_count")).over(byDay), lit(0)), 2)
          .as("cancellation_rate_pct"))
      .orderBy(desc("disruption_date"), desc("incident_count"))
  }

  /** Q6 OVERLAPPING (`aggregators.py:295-325`): interval-overlap theta
    * self-join over the last 7 days, overlap minutes via
    * least/greatest, top 50.
    *
    * Scale note (SURVEY §4.2): with no equi key Catalyst plans a
    * nested-loop join — correct at reference scale; the bucketed
    * range-join rewrite lives in
    * [[graft.operators.RangeJoin.overlapSelfJoin]] and is used when
    * the input is large.
    */
  def overlapping(d: DataFrame, clock: Clock): DataFrame = {
    val cols = d.select("disruption_id", "type", "start_time", "end_time")
    val a = cols.as("a")
    val b = cols.as("b")
    val overlapMin = (
      (unix_micros(least(col("a.end_time"), col("b.end_time"))) -
        unix_micros(greatest(col("a.start_time"), col("b.start_time")))) / lit(6e7)
      ).cast("int")
    a.filter(col("a.start_time") >= date_sub(clock.date, 7))
      .join(b,
        col("a.disruption_id") < col("b.disruption_id") &&
        col("a.start_time") < col("b.end_time") &&
        col("a.end_time") > col("b.start_time"))
      .select(
        col("a.disruption_id").as("disruption_a"),
        col("b.disruption_id").as("disruption_b"),
        col("a.type").as("type_a"),
        col("b.type").as("type_b"),
        col("a.start_time").as("a_start"),
        col("a.end_time").as("a_end"),
        col("b.start_time").as("b_start"),
        col("b.end_time").as("b_end"),
        overlapMin.as("overlap_minutes"))
      .orderBy(desc("overlap_minutes"))
      .limit(50)
  }

  /** The never-materialized `daily_stats` gold table
    * (`schema.sql:48-57`, 0 rows in the reference DB) — SURVEY §2.4
    * calls for actually computing it: per-day totals plus modal
    * station and modal hour (ties break to the lexicographically /
    * numerically smallest, documented since the reference never
    * defined them).
    *
    * One scan and one aggregation: each disruption becomes one row
    * per affected station (`posexplode_outer`, so a row without
    * stations is kept once with a null position), and the per-
    * disruption aggregates read only the position-0/null row. The
    * modal columns are `mode(_, deterministic = true)`, whose tie rule
    * (lowest value wins) is the smallest-first order above. The
    * null-date group (NULL `start_time`) has no modal station or hour.
    * Rows come unordered: the store's `replaceWhere` unions them into
    * the table anyway.
    */
  def dailyStats(d: DataFrame, clock: Clock): DataFrame = {
    val first = coalesce(col("pos") === 0, lit(true))
    d.select(
        to_date(col("start_time")).as("date"),
        col("type"),
        col("duration_minutes"),
        date_format(col("start_time"), "HH").as("hour"),
        posexplode_outer(split(col("affected_stations"), ",")).as(Seq("pos", "station")))
      .groupBy("date")
      .agg(
        count(when(first, lit(1))).as("total_disruptions"),
        sum(when(first && col("type") === "cancellation", 1).otherwise(0))
          .as("total_cancellations"),
        avg(when(first, col("duration_minutes"))).as("avg_duration_minutes"),
        max(col("duration_minutes")).as("max_duration_minutes"),
        when(col("date").isNotNull, mode(col("station"), deterministic = true))
          .as("most_affected_station"),
        mode(when(first, col("hour")), deterministic = true).as("peak_hour"))
      .withColumn("calculated_at", clock.ts)
  }

  /** Today's-stats report (`src/pipeline.py:304-342`). */
  def todaysReport(d: DataFrame, clock: Clock): DataFrame =
    d.filter(to_date(col("created_at")) === clock.date)
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("type") === "disruption", 1).otherwise(0)).as("disruptions"),
        sum(when(col("type") === "maintenance", 1).otherwise(0)).as("maintenance"),
        sum(when(col("type") === "calamity", 1).otherwise(0)).as("calamities"),
        round(avg(col("duration_minutes")), 1).as("avg_duration"),
        max(col("impact_level")).as("max_impact"))
}
