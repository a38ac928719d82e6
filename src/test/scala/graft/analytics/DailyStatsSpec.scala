package graft.analytics

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.Clock

/** `NsQueries.dailyStats` (one scan, one aggregation) against the
  * three-aggregate formulation it replaced, kept here as the reference:
  * per-day totals, joined on `date` with a modal-station and a
  * modal-hour aggregate, each ranked by count desc then value asc.
  */
class DailyStatsSpec extends SparkSpec {

  private val clock = Clock(Instant.parse("2026-03-12T12:00:00Z"))

  private def reference(d: DataFrame): DataFrame = {
    val base = d.groupBy(to_date(col("start_time")).as("date"))
      .agg(
        count(lit(1)).as("total_disruptions"),
        sum(when(col("type") === "cancellation", 1).otherwise(0))
          .as("total_cancellations"),
        avg(col("duration_minutes")).as("avg_duration_minutes"),
        max(col("duration_minutes")).as("max_duration_minutes"))
    def modal(df: DataFrame, keyCol: Column, out: String): DataFrame = {
      val g = df.groupBy(to_date(col("start_time")).as("date"), keyCol.as(out))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("date").orderBy(desc("cnt"), asc(out))
      g.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("date"), col(out))
    }
    val topStation = modal(
      d.filter(col("affected_stations").isNotNull)
        .select(col("start_time"),
          explode(split(col("affected_stations"), ",")).as("sc")),
      col("sc"), "most_affected_station")
    val topHour = modal(
      d.filter(col("start_time").isNotNull),
      date_format(col("start_time"), "HH"), "peak_hour")
    base
      .join(topStation, Seq("date"), "left")
      .join(topHour, Seq("date"), "left")
      .withColumn("calculated_at", clock.ts)
  }

  /** Rows (type, start, duration, stations) as a silver-shaped frame. */
  private def frame(rows: Seq[(String, String, java.lang.Double, String)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((t, s, dur, st), i) =>
      (s"d$i", t, Option(s).map(x => Timestamp.from(Instant.parse(x))),
        Option(dur).map(_.doubleValue), st)
    }.toDF("disruption_id", "type", "start_time", "duration_minutes", "affected_stations")
  }

  private def assertSame(d: DataFrame): Array[org.apache.spark.sql.Row] = {
    val got = NsQueries.dailyStats(d, clock)
    val want = reference(d)
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    val rows = got.collect()
    assert(rows.map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
    assert(rows.length == want.count())
    rows
  }

  private def day(rows: Array[org.apache.spark.sql.Row], date: String) =
    rows.find(r => Option(r.getAs[java.sql.Date]("date")).map(_.toString).contains(date)).get

  test("null start_time: the null-date group has null modal station and hour") {
    val rows = assertSame(frame(Seq(
      ("disruption", null, 10.0, "ASD,UTR"),
      ("cancellation", null, null, "ASD"),
      ("disruption", "2026-03-10T06:00:00Z", 30.0, "UTR"))))
    val nullDay = rows.find(_.isNullAt(0)).get
    assert(nullDay.getAs[Long]("total_disruptions") == 2L)
    assert(nullDay.getAs[Long]("total_cancellations") == 1L)
    assert(nullDay.getAs[Double]("avg_duration_minutes") == 10.0)
    assert(nullDay.isNullAt(nullDay.fieldIndex("most_affected_station")))
    assert(nullDay.isNullAt(nullDay.fieldIndex("peak_hour")))
  }

  test("null affected_stations: counted once, no modal station for a station-less day") {
    val rows = assertSame(frame(Seq(
      ("disruption", "2026-03-10T06:00:00Z", 10.0, null),
      ("disruption", "2026-03-10T07:00:00Z", 20.0, "GVC"),
      ("maintenance", "2026-03-11T07:00:00Z", 40.0, null))))
    assert(day(rows, "2026-03-10").getAs[Long]("total_disruptions") == 2L)
    assert(day(rows, "2026-03-10").getAs[Double]("avg_duration_minutes") == 15.0)
    assert(day(rows, "2026-03-10").getAs[String]("most_affected_station") == "GVC")
    assert(day(rows, "2026-03-11").isNullAt(day(rows, "2026-03-11").fieldIndex("most_affected_station")))
  }

  test("ties break to the smallest station and the earliest hour") {
    val rows = assertSame(frame(Seq(
      ("disruption", "2026-03-10T09:00:00Z", 10.0, "UTR,ASD"),
      ("disruption", "2026-03-10T06:00:00Z", 10.0, "RTD"),
      ("disruption", "2026-03-10T09:30:00Z", 10.0, "RTD,UTR"),
      ("disruption", "2026-03-10T06:45:00Z", 10.0, "ASD"))))
    // ASD, RTD and UTR all count 2; hours 06 and 09 both count 2
    assert(day(rows, "2026-03-10").getAs[String]("most_affected_station") == "ASD")
    assert(day(rows, "2026-03-10").getAs[String]("peak_hour") == "06")
  }

  test("a station repeated within one row counts each time; per-row totals do not") {
    val rows = assertSame(frame(Seq(
      ("cancellation", "2026-03-10T08:00:00Z", 60.0, "UTR,UTR,UTR"),
      ("disruption", "2026-03-10T07:00:00Z", 30.0, "ASD,ASD"),
      ("disruption", "2026-03-10T07:10:00Z", 30.0, "GVC"))))
    val d = day(rows, "2026-03-10")
    // UTR 3 (one row) beats ASD 2 (one row) and GVC 1
    assert(d.getAs[String]("most_affected_station") == "UTR")
    assert(d.getAs[Long]("total_disruptions") == 3L)
    assert(d.getAs[Long]("total_cancellations") == 1L)
    assert(d.getAs[Double]("avg_duration_minutes") == 40.0)
    assert(d.getAs[String]("peak_hour") == "07")
  }

  test("an empty station string is a station of its own") {
    val rows = assertSame(frame(Seq(
      ("disruption", "2026-03-10T08:00:00Z", 5.0, ""),
      ("disruption", "2026-03-10T08:00:00Z", 5.0, "ZL,"),
      ("disruption", "2026-03-11T08:00:00Z", 5.0, ","))))
    assert(day(rows, "2026-03-10").getAs[String]("most_affected_station") == "")
    assert(day(rows, "2026-03-11").getAs[String]("most_affected_station") == "")
    assert(day(rows, "2026-03-11").getAs[Long]("total_disruptions") == 1L)
  }

  test("seeded random frames: one aggregation equals the reference") {
    val rng = new scala.util.Random(20260310)
    val codes = Seq("ASD", "UTR", "RTD", "GVC", "")
    (1 to 5).foreach { _ =>
      assertSame(frame(Seq.fill(120) {
        val start =
          if (rng.nextInt(10) == 0) null
          else f"2026-03-${10 + rng.nextInt(4)}%02dT${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00Z"
        val stations =
          if (rng.nextInt(6) == 0) null
          else Seq.fill(1 + rng.nextInt(3))(codes(rng.nextInt(codes.size))).mkString(",")
        val dur: java.lang.Double =
          if (rng.nextInt(8) == 0) null else java.lang.Double.valueOf(rng.nextInt(600).toDouble)
        (Seq("disruption", "maintenance", "cancellation")(rng.nextInt(3)), start, dur, stations)
      }))
    }
  }
}
