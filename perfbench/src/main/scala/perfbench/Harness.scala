package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.DataFrame

/** The benchmark's JVM side: one closed-loop client driving the
  * program through its public entry points (`graft.Main.run`,
  * `graft.SparkEntry.queries`), timing each operation and writing a
  * raw record (`result.json`) that `run.py` checks and reduces to
  * metrics. Nothing here interprets the numbers.
  *
  * Usage: Harness <etl|gates> <inputsFile> <dataDir> <seconds> <trace 0|1> <workDir>
  *  - etl: inputsFile lists one day per line: `snapshotPath<TAB>clockInstant`;
  *    the first [[EtlWarmDays]] days are the set-up: the cold batch a
  *    daily run pays, then warm-up batches, without which the measured
  *    batches would sit on the steep part of the JIT warm-up curve.
  *  - gates: inputsFile lists one pass per line, gate names comma-separated;
  *    the first line is the untimed warm pass, which also dumps each
  *    gate's result for the oracle check.
  *
  * A round (one batch, or one pass over the gate mix) starts only
  * while the measured time plus the median round so far fits in
  * `seconds`; at least one round always runs. With tracing on, rounds
  * alternate traced/untraced so the record carries its own overhead.
  */
object Harness {

  /** Set-up batches of the etl workload (see the usage above). */
  val EtlWarmDays = 3

  final case class Op(round: Int, name: String, startUs: Long, endUs: Long,
      ok: Boolean, error: String, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputsFile, dataDir, secondsArg, traceArg, workDir) = args
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val trace = new Trace
    val spark = graft.SessionDefaults.builder(cpus)
      .appName("perfbench")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new JobListener
    if (tracing) spark.sparkContext.addSparkListener(listener)
    val compiles0 = compiles()
    val lines = Source.fromFile(inputsFile, "UTF-8").getLines().filter(_.nonEmpty).toVector
    val ops = ArrayBuffer.empty[Op]
    val extra = ArrayBuffer.empty[(String, String)] // raw JSON fields
    val runSpan = trace.open("run", 0L)
    val setupSpan = trace.open("setup", runSpan)

    /** Runs one operation under an `op` span (id passed to `body`); a
      * throw marks it failed. Output checks happen after the run. */
    def op(round: Int, name: String, parent: Long, traced: Boolean)(
        body: Long => Unit): Unit = {
      listener.enabled = traced
      val id = if (traced) trace.open(s"op:$name", parent) else 0L
      spark.sparkContext.setLocalProperty(JobListener.SpanKey, id.toString)
      val t0 = Trace.nowUs()
      val failure =
        try { body(id); None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t1 = Trace.nowUs()
      if (traced) trace.close(id)
      ops += Op(round, name, t0, t1, failure.isEmpty, failure.getOrElse(""), traced)
    }

    def timedRounds(nRounds: Int)(round: (Int, Long, Boolean) => Unit): Unit = {
      val start = Trace.nowUs()
      val roundTimes = ArrayBuffer.empty[Double]
      var r = 1
      def fits: Boolean = roundTimes.isEmpty || {
        val sorted = roundTimes.sorted
        (Trace.nowUs() - start) / 1e6 + sorted(sorted.size / 2) <= seconds
      }
      // a traced run always holds an untraced round to measure overhead against
      while (r < nRounds && (fits || (tracing && r < 3))) {
        val traced = tracing && r % 2 == 1
        val t0 = Trace.nowUs()
        val span = if (traced) trace.open(s"round:$r", runSpan) else 0L
        round(r, span, traced)
        if (traced) trace.close(span)
        roundTimes += (Trace.nowUs() - t0) / 1e6
        r += 1
      }
      require(r > 1, "inputs hold no measured round")
    }

    def finish(setupEndUs: Long, canaryStart: Double, canaryEnd: Double): Unit = {
      trace.close(runSpan)
      if (tracing) listener.drain()
      val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
      val fields = Seq(
        "workload" -> Json.str(workload),
        "cpus" -> cpus,
        "setup_s" -> ((setupEndUs - jvmStartUs) / 1e6).toString,
        "canary_s" -> s"[$canaryStart,$canaryEnd]",
        "peak_rss_mb" -> peakRssMb().toString,
        "codegen_compiles" -> (compiles() - compiles0).toString,
        "ops" -> ops.map { o =>
          s"""{"round":${o.round},"name":${Json.str(o.name)},"start_us":${o.startUs},""" +
            s""""end_us":${o.endUs},"ok":${o.ok},"error":${Json.str(o.error)},"traced":${o.traced}}"""
        }.mkString("[", ",", "]"),
        "spans" -> trace.json,
        "jobs" -> listener.jobsJson,
        "stages" -> listener.stagesJson) ++ extra
      Files.write(Paths.get(s"$workDir/result.json"),
        fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}").getBytes(UTF_8))
      spark.stop()
    }

    workload match {
      case "etl" =>
        val days = lines.map(_.split("\t")).map(a => (a(0), graft.etl.Clock(Instant.parse(a(1)))))
        val store = s"$workDir/store"
        def batch(d: Int, round: Int, parent: Long, traced: Boolean): Unit =
          op(round, s"day_$d", parent, traced) { _ =>
            val counts = graft.Main.run(spark, days(d)._1, store, days(d)._2).toMap
            extra += s"counts_$d" -> counts.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
          }
        (0 until EtlWarmDays).foreach(batch(_, 0, setupSpan, tracing))
        trace.close(setupSpan)
        val setupEndUs = Trace.nowUs()
        val canaryStart = Canary.run(cpus.toInt)
        timedRounds(days.size - EtlWarmDays + 1) { (r, span, traced) =>
          batch(EtlWarmDays + r - 1, r, span, traced)
        }
        val canaryEnd = Canary.run(cpus.toInt)
        // Output check, untimed: gold daily_stats equals a full
        // recompute over silver (MainSpec's invariant).
        val ts = new graft.store.TableStore(spark, store)
        val lastDay = EtlWarmDays + ops.map(_.round).max - 1
        val silver = ts.read("disruptions").get
        def rows(df: DataFrame) = df.drop("calculated_at").collect().map(_.toSeq).toSet
        val goldOk = rows(ts.read("daily_stats").get) ==
          rows(graft.analytics.NsQueries.dailyStats(silver, days(lastDay)._2))
        extra += "silver_rows" -> silver.count().toString
        extra += "bronze_rows" -> ts.read("raw_disruptions").get.count().toString
        extra += "gold_matches_recompute" -> goldOk.toString
        extra += "store_files" -> Seq("raw_disruptions", "disruptions", "stations", "daily_stats")
          .map(t => if (ts.exists(t)) ts.fileCount(t) else 0).sum.toString
        finish(setupEndUs, canaryStart, canaryEnd)

      case "gates" =>
        val passes = lines.map(_.split(",").toVector)
        val gates = graft.SparkEntry.queries
        val dumps = s"$workDir/dumps"
        graft.Tables.names.foreach(graft.Tables.load(spark, dataDir, _))
        passes.head.foreach { g =>
          op(0, g, setupSpan, tracing) { _ =>
            gates(g)(spark, dataDir).write.mode("overwrite").parquet(s"$dumps/$g")
          }
        }
        trace.close(setupSpan)
        val setupEndUs = Trace.nowUs()
        val canaryStart = Canary.run(cpus.toInt)
        timedRounds(passes.size) { (r, span, traced) =>
          passes(r).foreach { g =>
            op(r, g, span, traced) { id =>
              val df = trace.timed("build", id, traced)(gates(g)(spark, dataDir))
              if (traced) trace.timed("plan", id, traced)(df.queryExecution.executedPlan)
              trace.timed("exec", id, traced)(df.write.format("noop").mode("overwrite").save())
            }
          }
        }
        val canaryEnd = Canary.run(cpus.toInt)
        // Oracle SQL for the check, rendered after the timed window
        // (dynamic oracles read the models the gates trained).
        val mix = passes.head.toSet
        val oracles = graft.SparkEntry.oracleSql.filter(e => mix(e._1)) ++
          graft.SparkEntry.dynamicOracleSql.filter(e => mix(e._1)).map { case (k, f) =>
            k -> graft.Verify.renderDynOracle(k, f, spark, dataDir)
          }
        Files.createDirectories(Paths.get(dumps))
        Files.write(Paths.get(s"$dumps/oracle_sql.json"),
          oracles.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
            .mkString("{", ",", "}").getBytes(UTF_8))
        finish(setupEndUs, canaryStart, canaryEnd)
    }

  }

  /** Janino compilations so far in this JVM (codegen cache misses). */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
