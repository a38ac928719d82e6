package graft.dev

import graft.{SparkEntry, Tables}

/** Dev tool: time selected queries with Bench's protocol (untimed
  * warm pass for Janino compilation, then min of two timed passes) —
  * for iterating on one hot query without a full Bench run.
  *
  * Usage: runMain graft.dev.TimeQuery <sfDir> <query...>
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared engine baseline, so single-gate timings use the same
    // planning policy as the full bench
    val builder = graft.SessionDefaults.builder(cpus)
    // conf A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" layers session
    // confs for same-protocol before/after runs
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // synthetic rungs (dev/GenSf1) carry only the ladder tables —
    // warm what exists
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count()
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    // noop-sink write = full evaluation; count() would measure the
    // join/sort-pruned plan (the round-9 q109 finding)
    def time(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write
        .format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(time) // warm
    names.foreach { n =>
      val t = math.min(time(n), time(n))
      println(f"TIMED $n%-28s $t%7.3f s")
    }
    spark.stop()
  }
}
