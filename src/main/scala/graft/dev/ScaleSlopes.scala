package graft.dev

/** Dev tool: measured scaling evidence for SCALING.md.
  *
  * Runs each named query at a ladder of scale factors inside one JVM
  * and reports, per (query, sf): wall seconds, bytes read from files,
  * and shuffle bytes written/read (summed task metrics) — then the
  * growth ratio between the last two rungs. The point is to turn the
  * "posting-shaped, not doc²" prose into numbers: a linear operator
  * shows shuffle growth ≈ data growth (~10× per rung); an all-pairs
  * mistake shows ~100×.
  *
  * Usage: `sbt 'runMain graft.dev.ScaleSlopes q22_ngram_jaccard ...'`
  * `SLOPES_SFS` overrides the rung list (comma-separated sf dirs).
  *
  * Metrics come from a task-end listener, so they include every job a
  * gate triggers (index training, sampling, verification), which is
  * what the bench pays too. The listener bus is asynchronous; a short
  * drain pause after each query keeps rung totals from bleeding into
  * each other (measurement tool — a bounded sleep is fine here).
  */
object ScaleSlopes {
  def main(args: Array[String]): Unit = {
    val sfs = sys.env.getOrElse("SLOPES_SFS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    final case class Row(q: String, sf: String, sec: Double,
        inB: Long, swB: Long, srB: Long, skew: Double, maxTaskMs: Long)
    val rows = Seq.newBuilder[Row]
    def mb(b: Long): Double = b / 1e6

    for (q <- args) {
      val fn = graft.SparkEntry.queries(q)
      for (dir <- sfs) {
        // noop-sink write = full evaluation (count() lets Catalyst
        // eliminate distinct-keyed left joins / final sorts / unused
        // agg expressions — the round-9 q109 finding)
        def evaluate(): Unit = fn(spark, dir).write
          .format("noop").mode("overwrite").save()
        evaluate() // warm: Janino + AQE shape, untimed
        // the timed pass must pay the session-cached shared builds
        // (edge frames, ANN models) too, or slopes understate work
        graft.queries.GraphGateSource.invalidate()
        graft.similarity.TrainedModels.invalidate()
        Thread.sleep(500); listener.reset()
        val t0 = System.nanoTime(); evaluate()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // drain the async listener bus
        val (skew, maxMs) = listener.worstStageSkew()
        rows += Row(q, dir.split('/').last, sec,
          listener.input.sum, listener.shufW.sum, listener.shufR.sum,
          skew, maxMs)
        // progress line per measurement (long rungs would otherwise
        // run silent for minutes — flushed so a killed run keeps them)
        println(f"PROGRESS $q ${dir.split('/').last} $sec%.1fs")
        System.out.flush()
      }
    }

    val all = rows.result()
    println(f"${"query"}%-26s ${"sf"}%-8s ${"sec"}%8s ${"read MB"}%10s ${"shufW MB"}%10s ${"shufR MB"}%10s ${"tskew"}%6s ${"maxT ms"}%8s")
    all.foreach { r =>
      println(f"${r.q}%-26s ${r.sf}%-8s ${r.sec}%8.3f ${mb(r.inB)}%10.2f ${mb(r.swB)}%10.2f ${mb(r.srB)}%10.2f ${r.skew}%6.1f ${r.maxTaskMs}%8d")
    }
    // growth ratio over the last rung step (e.g. sf0.01 → sf0.1: data
    // grows ~10×; a linear operator's shuffle should too)
    if (sfs.length >= 2) {
      println(f"%nRATIOS ${sfs(sfs.length - 2).split('/').last} -> ${sfs.last.split('/').last} (data ~10x per rung)")
      println(f"${"query"}%-26s ${"sec x"}%8s ${"read x"}%8s ${"shufW x"}%8s")
      for (q <- args) {
        val bySf = all.filter(_.q == q)
        val (a, b) = (bySf(bySf.length - 2), bySf.last)
        def ratio(x: Long, y: Long): String =
          if (x <= 0) "-" else f"${y.toDouble / x}%.1f"
        println(f"$q%-26s ${b.sec / math.max(a.sec, 1e-3)}%8.1f ${ratio(a.inB, b.inB)}%8s ${ratio(a.swB, b.swB)}%8s")
      }
    }
    spark.stop()
  }
}
