package graft.dev

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, Tables}

/** Dev tool: write `explain("formatted")` for selected (default: all)
  * gates to one file per query under an output dir — the round's
  * `plans/rNN/<query>_{before,after}.txt` evidence, and the input to
  * plan-shape greps (ReusedExchange present? SortMergeJoin? Exchange
  * count? single-partition Window?).
  *
  * Usage: runMain graft.dev.PlanDump <outDir> <sfDir> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/plans"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared engine baseline: dumped plans reflect the same planning
    // policy Bench times and Verify checks
    val builder = graft.SessionDefaults.builder(cpus)
    // same conf A/B hook as TimeQuery, so plan dumps can reflect
    // session confs under test (e.g. preferSortMergeJoin)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count()
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"$n.txt"), txt)
      } catch { case e: Throwable =>
        Files.writeString(Paths.get(outDir, s"$n.txt"),
          s"EXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    spark.stop()
  }
}
