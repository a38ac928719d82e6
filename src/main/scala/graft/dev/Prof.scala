package graft.dev

/** Dev tool: steady-state timing (min of two runs after a warm-up)
  * for selected queries at bench parallelism, with optional formatted
  * plans. `PROF_DIR` overrides the sf0.1 default; `PROF_EXPLAIN=1`
  * prints each plan after timing.
  *
  * Usage: `sbt 'runMain graft.dev.Prof q88_profile q45_ivf_ann'`
  */
object Prof {
  def main(args: Array[String]): Unit = {
    // PROF_TMPFS=1: route scratch (temp dirs, checkpoints, shuffle
    // local dirs) to tmpfs — measures how much of a gate's time is
    // the measurement box's ext4 /tmp rather than the engine
    if (sys.env.contains("PROF_TMPFS")) {
      val base = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("/dev/shm"), "graft-prof")
      System.setProperty("java.io.tmpdir", base.toString)
      System.setProperty("spark.local.dir", base.toString)
    }
    val spark = graft.SessionDefaults
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("PROF_DIR", "/root/testdata/sf0.1")
    val doExplain = sys.env.contains("PROF_EXPLAIN")
    // noop-sink write = full evaluation; count() would let Catalyst
    // eliminate distinct-keyed left joins, final sorts, and unused
    // aggregate expressions (the round-9 q109 finding) — Prof must
    // measure the same plan Bench does
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    for (q <- args) {
      val fn = graft.SparkEntry.queries(q)
      evaluate(fn(spark, dir)) // warm: pay Janino codegen outside timing
      val t0 = System.nanoTime(); evaluate(fn(spark, dir))
      val t1 = System.nanoTime(); evaluate(fn(spark, dir))
      val t2 = System.nanoTime()
      println(f"TIME $q ${math.min(t1 - t0, t2 - t1) / 1e9}%.3f")
      if (doExplain) { println(s"===== PLAN $q"); fn(spark, dir).explain("formatted") }
    }
    spark.stop()
  }
}
