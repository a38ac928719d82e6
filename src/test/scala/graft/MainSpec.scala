package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.DataFrame

import graft.analytics.NsQueries
import graft.etl.Clock
import graft.store.TableStore

/** Full-pipeline runs: extract → bronze append → silver upsert → gold
  * daily_stats → report, plus the idempotency contract (re-run ≡
  * no-op). The multi-day test runs on snapshots written here; the
  * golden-capture tests need the reference's raw capture.
  */
class MainSpec extends SparkSpec {

  /** One raw NS record; `start`/`end` are omitted when None. */
  private def rec(id: String, typ: String, title: String,
      start: Option[String], end: Option[String], stations: Seq[String]): String = {
    def field(k: String, v: Option[String]) = v.map(x => s""""$k": "$x",""").getOrElse("")
    val st = stations.map(c => s"""{"uicCode": "$c"}""").mkString(",")
    s"""{"id": "$id", "type": "$typ", "title": "$title", ${field("start", start)}
       |${field("end", end)} "description": "Minder treinen",
       |"section": {"direction": "BOTH", "stations": [$st]}}""".stripMargin
  }

  /** Three daily snapshots: re-sent ids with later versions (d1 moves
    * to another day, d3 leaves the null-start group), missing `end`
    * (d2, d7, d8) and malformed `start` (d3 on day 1, d6, d8).
    */
  private val days: Seq[(Clock, Seq[String])] = Seq(
    Clock(Instant.parse("2026-03-10T08:00:00Z")) -> Seq(
      rec("d1", "DISRUPTION", "Seinstoring Amsterdam",
        Some("2026-03-10T06:15:00+0100"), Some("2026-03-10T09:00:00+0100"), Seq("ASD", "UTR")),
      rec("d2", "werkzaamheden", "Werkzaamheden Utrecht",
        Some("2026-03-09T22:30:00+0100"), None, Seq("UTR")),
      rec("d3", "CALAMITY", "Aanrijding Rotterdam",
        Some("2026-13-45T99:00:00+0100"), Some("2026-03-10T12:00:00+0100"), Seq("RTD")),
      rec("d4", "DISRUPTION", "Defecte trein Utrecht",
        Some("2026-03-10T07:05:00+0100"), Some("2026-03-10T08:00:00+0100"), Seq("UTR", "ASD")),
      rec("d5", "CANCELLATION", "Uitval Den Haag",
        Some("2026-03-10T07:40:00+0100"), Some("2026-03-10T10:40:00+0100"), Seq("GVC"))),
    Clock(Instant.parse("2026-03-11T08:00:00Z")) -> Seq(
      rec("d1", "DISRUPTION", "Seinstoring Amsterdam",
        Some("2026-03-11T05:00:00+0100"), Some("2026-03-11T07:00:00+0100"), Seq("ASD")),
      rec("d3", "CALAMITY", "Aanrijding Rotterdam",
        Some("2026-03-11T06:00:00+0100"), Some("2026-03-11T12:00:00+0100"), Seq("RTD")),
      rec("d6", "DISRUPTION", "Stroomstoring Leiden",
        Some("unknown"), Some("2026-03-11T12:00:00+0100"), Seq("LEDN")),
      rec("d7", "werkzaamheden", "Werkzaamheden Den Haag",
        Some("2026-03-11T07:30:00+0100"), None, Seq("GVC"))),
    Clock(Instant.parse("2026-03-12T08:00:00Z")) -> Seq(
      rec("d2", "werkzaamheden", "Werkzaamheden Utrecht",
        Some("2026-03-09T22:30:00+0100"), Some("2026-03-12T06:00:00+0100"), Seq("UTR")),
      rec("d7", "werkzaamheden", "Werkzaamheden Den Haag",
        Some("2026-03-11T07:30:00+0100"), None, Seq("GVC", "AMF")),
      rec("d8", "DISRUPTION", "Storing Zwolle",
        Some(""), None, Seq("ZL")),
      rec("d9", "DISRUPTION", "Wisselstoring Eindhoven",
        Some("2026-03-12T06:45:00+0100"), Some("2026-03-12T07:15:00+0100"), Seq("EHV"))))

  test("multi-day pipeline on in-repo snapshots: counts, re-run, gold, job budget") {
    val dir = Files.createTempDirectory("graft-main-days")
    val root = dir.resolve("store").toString
    val paths = days.zipWithIndex.map { case ((_, recs), d) =>
      Files.write(dir.resolve(s"day_$d.json"),
        recs.mkString("[\n", ",\n", "\n]").getBytes(UTF_8)).toString
    }
    def run(d: Int): Map[String, Long] = Main.run(spark, paths(d), root, days(d)._1).toMap
    def rows(df: DataFrame) = df.drop("calculated_at").collect().map(_.toSeq).toSet
    def store = new TableStore(spark, root)
    def goldMatchesRecompute(d: Int): Unit =
      assert(rows(store.read("daily_stats").get) ==
        rows(NsQueries.dailyStats(store.read("disruptions").get, days(d)._1)), s"gold after day $d")

    // (extracted, bronze_inserted, silver_rows, daily_stats_rows,
    // report_total_today, malformed starts = null durations)
    val expected = Seq((5L, 5L, 5L, 3L, 5L, 1L), (4L, 2L, 7L, 4L, 4L, 1L), (4L, 2L, 9L, 5L, 4L, 1L))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    var steadyJobs = 0
    expected.zipWithIndex.foreach { case ((ext, bronze, silver, gold, today, nullDur), d) =>
      val (c, jobs) = withJobCount(run(d))
      if (d == days.size - 1) steadyJobs = jobs
      assert(c("extracted") == ext && c("bronze_inserted") == bronze &&
        c("silver_rows") == silver && c("daily_stats_rows") == gold &&
        c("report_total_today") == today, s"day $d: $c")
      // the silver load's quality counters, exact (filled by the write)
      assert(c("silver_load_n_rows") == ext && c("silver_load_n_null_duration_minutes") == nullDur &&
        c("silver_load_n_null_end_time") == 0L && c("silver_load_n_bad_impact_range") == 0L,
        s"day $d: $c")
      // the counts equal what the tables hold
      assert(store.read("disruptions").get.count() == silver)
      assert(store.read("raw_disruptions").get.count() == silver)
      assert(store.read("daily_stats").get.count() == gold)
      goldMatchesRecompute(d)
      // the batch's cached frames are released (other suites' leftovers
      // may be reaped meanwhile, so the count can only drop)
      assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore)
    }
    // a steady-state batch (every table exists) stays within its job
    // budget: extract once, schemas from the store, counts from writes
    info(s"steady-state batch: $steadyJobs Spark jobs")
    assert(steadyJobs <= 25, s"steady-state batch ran $steadyJobs Spark jobs")

    // idempotent re-run of the last day: nothing changes
    val silverBefore = rows(store.read("disruptions").get)
    val goldBefore = rows(store.read("daily_stats").get)
    val again = run(days.size - 1)
    assert(again("bronze_inserted") == 0L && again("silver_rows") == 9L &&
      again("daily_stats_rows") == 5L, s"re-run: $again")
    assert(rows(store.read("disruptions").get) == silverBefore)
    assert(rows(store.read("daily_stats").get) == goldBefore)
    goldMatchesRecompute(days.size - 1)

    // d1 moved from 03-10 to 03-11 and d3 left the null group, and both
    // old days were refreshed: 03-10 holds d4 and d5 only
    val byDate = store.read("daily_stats").get.collect()
      .map(r => Option(r.getAs[java.sql.Date]("date")).map(_.toString) -> r).toMap
    assert(byDate(Some("2026-03-10")).getAs[Long]("total_disruptions") == 2L)
    assert(byDate(Some("2026-03-10")).getAs[Long]("total_cancellations") == 1L)
    assert(byDate(Some("2026-03-11")).getAs[Long]("total_disruptions") == 3L)
    assert(byDate(None).getAs[Long]("total_disruptions") == 2L) // d6, d8

    // a batch whose records all lack an id cleans to nothing: the
    // silver and gold writes are skipped and counted explicitly
    val noIds = dir.resolve("no_ids.json")
    Files.write(noIds, """[{"type": "DISRUPTION", "title": "Zonder id"}]""".getBytes(UTF_8))
    val empty = Main.run(spark, noIds.toString, root,
      Clock(Instant.parse("2026-03-13T08:00:00Z"))).toMap
    assert(empty("extracted") == 1L && empty("bronze_inserted") == 0L &&
      empty("silver_rows") == 9L && empty("daily_stats_rows") == 5L &&
      empty("report_total_today") == 0L && empty("silver_load_n_rows") == 0L, s"$empty")
    assert(rows(store.read("disruptions").get) == silverBefore)
    assert(rows(store.read("daily_stats").get) == goldBefore)
  }

  private val goldenRaw =
    "/root/reference/data/raw/disruptions_20260214_111810.json"

  test("pipeline end-to-end on golden capture, idempotent re-run") {
    assume(Files.exists(Paths.get(goldenRaw)))
    val root = Files.createTempDirectory("graft-pipeline").toString
    val clock = Clock.golden

    val counts = Main.run(spark, goldenRaw, root, clock).toMap
    assert(counts("extracted") == 125L)
    assert(counts("bronze_inserted") == 125L)
    assert(counts("silver_rows") == 125L)
    assert(counts("daily_stats_rows") >= 1L)
    assert(counts("report_total_today") == 125L)

    // Re-run the same batch: bronze inserts nothing, silver unchanged.
    val again = Main.run(spark, goldenRaw, root, clock).toMap
    assert(again("bronze_inserted") == 0L)
    assert(again("silver_rows") == 125L)

    // The touched-day incremental gold refresh must equal a full
    // recompute over silver (per-day stats depend only on that day).
    val store = new graft.store.TableStore(spark, root)
    val silver = store.read("disruptions").get
    def set(df: org.apache.spark.sql.DataFrame) =
      df.drop("calculated_at").collect().map(_.toSeq).toSet
    assert(set(store.read("daily_stats").get) ==
      set(graft.analytics.NsQueries.dailyStats(silver, clock)))
  }

  test("api: extract source converges with the file path on the golden capture") {
    assume(Files.exists(Paths.get(goldenRaw)))
    // S1 live path offline: the api: prefix routes Main's extract
    // through ApiClient (file:// transport), archives the snapshot
    // under the store, and the pipeline output must be IDENTICAL to
    // a plain file-based run over the same capture
    val rootApi = Files.createTempDirectory("graft-pipe-api").toString
    val rootFile = Files.createTempDirectory("graft-pipe-file").toString
    val clock = Clock.golden
    val viaApi = Main.run(spark,
      s"api:${Paths.get(goldenRaw).toUri}", rootApi, clock).toMap
    val viaFile = Main.run(spark, goldenRaw, rootFile, clock).toMap
    assert(viaApi == viaFile)
    assert(viaApi("extracted") == 125L)
    // the snapshot was archived with the dated raw filename contract
    val archived = new java.io.File(s"$rootApi/raw_archive").listFiles()
    assert(archived != null && archived.exists(
      _.getName.matches("disruptions_\\d{8}_\\d{6}\\.json")),
      s"no dated archive under $rootApi/raw_archive")
    // silver tables are row-identical
    val sApi = new graft.store.TableStore(spark, rootApi)
      .read("disruptions").get
    val sFile = new graft.store.TableStore(spark, rootFile)
      .read("disruptions").get
    assert(sApi.collect().map(_.toSeq).toSet ==
      sFile.collect().map(_.toSeq).toSet)
  }
}
