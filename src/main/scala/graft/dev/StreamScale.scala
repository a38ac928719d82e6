package graft.dev

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams

/** Dev tool: the STREAMING keys-decade rung for SCALING.md.
  *
  * The streaming gates (q520–q528) run at semantic micro-batch floors
  * — tens of rows — which verifies SEMANTICS but says nothing about
  * how the state backends behave when a key decade is added: RocksDB
  * ValueState at 10⁵–10⁷ keys, watermark-bounded dedup/join state at
  * millions of in-horizon rows, per-batch commit cost when every one
  * of the 32 state-store instances actually holds data. This harness
  * measures that, GenSf1-style: a deterministic hash-derived event
  * feed (no driver RNG), written as chronological slice files (the
  * gates' writeOrderedSlices shape, one slice = one micro-batch via
  * maxFilesPerTrigger=1), replayed through the production operators
  * at a ladder of key counts, on the RocksDB state store (the
  * production backend; transformWithState requires it).
  *
  * Shapes (one per stateful-state class in the engine):
  *  - `windowed`  — watermarked tumbling agg ([[EventStreams.windowedCounts]],
  *    q520/q527's operator): state O(windows-in-horizon × types);
  *    measures raw watermark-agg THROUGHPUT, not state growth.
  *  - `dedup`     — [[EventStreams.dedupWithinWatermark]] (q524):
  *    state O(rows inside the horizon) — the rung's largest state.
  *  - `sessionize`— flatMapGroupsWithState ([[EventStreams.sessionize]],
  *    q521's shape): state O(active keys), event-time timeouts.
  *  - `quota`     — transformWithState ValueState
  *    ([[EventStreams.admitQuota]], q523's shape): state O(keys) —
  *    the RocksDB ValueState-at-10⁶-keys question, verbatim.
  *  - `join`      — stream-stream interval join
  *    ([[EventStreams.clickToPurchase]], q522's shape): state
  *    O(in-horizon rows BOTH sides).
  *
  * Feed: `nSlices` slices × one event per key per slice, event time
  * advancing 10 min per slice with a per-(key, slice) minute jitter;
  * ~10% of rows are exact (user_id, ts) resends for dedup to collapse.
  * Per rung, total events = nSlices × keys — so a ×10 keys rung is
  * ALSO ×10 events, and a linear operator shows wall ≈ ×10 with state
  * rows ≈ ×10 (dedup/join: per-horizon; sessionize/quota: per-key).
  *
  * Per (shape, rung) the report carries wall seconds, micro-batches,
  * the state operators' peak row count and peak memory from the
  * query's own progress metrics, plus the [[TaskMetricsListener]]
  * shuffle/skew stats — then decade ratios between adjacent rungs.
  *
  * Usage: `sbt 'runMain graft.dev.StreamScale [keys,keys,...]'`
  * (default 100000,1000000). Env `STREAM_SCALE_SHAPES` filters shapes
  * (comma list), `STREAM_SCALE_SLICES` overrides the slice count (16),
  * `STREAM_SCALE_PARTITIONS` the shuffle-partition count (session
  * default 32) — for stateful streaming that number is pinned into
  * the checkpoint as the per-operator STATE STORE INSTANCE count, and
  * every micro-batch pays per-instance commit/maintenance whether or
  * not a partition holds data, so it is the one sizing lever a
  * streaming deployment must set to the data (the gates pin 4 at
  * their micro floors; this harness measures where the crossover to
  * wanting all 32 sits). Rung data lives under /tmp, deleted per rung.
  */
object StreamScale {

  private def rmTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }

  /** Deterministic event slice: one event per key, ts inside the
    * slice's 10-min interval (minute jitter from hash), plus resends
    * (exact duplicate rows) for ~10% of keys.
    */
  private def slice(spark: SparkSession, nKeys: Long, s: Int): DataFrame = {
    val baseMs = 1767225600000L // 2026-01-01 00:00 UTC, fixed epoch
    val ids = spark.range(0, nKeys).toDF("user_id")
    def h(seed: Int): org.apache.spark.sql.Column =
      pmod(hash(col("user_id"), lit(s), lit(seed)).cast("long"), lit(1000000L))
    val ev = ids.select(
      col("user_id"),
      timestamp_millis(lit(baseMs + s * 600000L) + (h(1) % 10) * lit(60000L)).as("ts"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (h(2) % 3 + 1).cast("int")).as("event_type"),
      (h(3) / lit(1000.0)).as("value"))
    ev.union(ev.filter(pmod(hash(col("user_id"), lit(s)), lit(10)) === 0))
  }

  /** Write the rung's slices as single chronological files with
    * strictly-increasing mtimes (the file source orders by mtime).
    */
  private def writeSlices(
      spark: SparkSession, nKeys: Long, nSlices: Int, src: Path): Unit = {
    Files.createDirectories(src)
    val mtBase = 1700000000000L
    (0 until nSlices).foreach { s =>
      val stage = Files.createTempDirectory("graft-ss-slice")
      slice(spark, nKeys, s).coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $stage"))
      val dest = src.resolve(f"slice-$s%03d.parquet")
      Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtBase + s * 1000L)
      rmTree(stage)
    }
  }

  private final case class RunStats(
      sec: Double, batches: Int, peakStateRows: Long, peakStateMb: Double,
      shufWMb: Double, tskew: Double, maxTaskMs: Long)

  /** Run `out` to completion over its file sources and report wall +
    * the state operators' peak rows/memory from the progress stream.
    */
  private def run(
      out: DataFrame, ckpt: Path, listener: TaskMetricsListener): RunStats = {
    Thread.sleep(500); listener.reset()
    val t0 = System.nanoTime()
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt.toString)
      .format("noop")
      .start()
    try q.processAllAvailable() finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // drain the async listener bus
    val progress = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
    val peakRows =
      if (progress.isEmpty) 0L
      else progress.map(_.stateOperators.map(_.numRowsTotal).sum).max
    val peakMem =
      if (progress.isEmpty) 0L
      else progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
    val (skew, maxMs) = listener.worstStageSkew()
    RunStats(sec, q.recentProgress.length, peakRows, peakMem / 1e6,
      listener.shufW.sum / 1e6, skew, maxMs)
  }

  def main(args: Array[String]): Unit = {
    val keyRungs = args.headOption.getOrElse("100000,1000000")
      .split(",").toSeq.map(_.trim.toLong)
    val nSlices = sys.env.getOrElse("STREAM_SCALE_SLICES", "16").toInt
    val shapes = sys.env.get("STREAM_SCALE_SHAPES")
      .map(_.split(",").toSet)
      .getOrElse(Set("windowed", "dedup", "sessionize", "quota", "join"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("STREAM_SCALE_PARTITIONS", cpus)
    // `STREAM_SCALE_BACKEND=hdfs` swaps in the default in-memory
    // HDFSBackedStateStoreProvider to A/B the pinned RocksDB choice.
    // transformWithState REQUIRES RocksDB, so the quota shape is
    // force-dropped on the hdfs backend.
    val hdfsBackend = sys.env.get("STREAM_SCALE_BACKEND").contains("hdfs")
    val shapesRun = if (hdfsBackend) shapes - "quota" else shapes
    val builder = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false"))
    if (!hdfsBackend)
      // the production state backend; required by transformWithState
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    final case class Row(shape: String, keys: Long, st: RunStats)
    val rows = Seq.newBuilder[Row]

    for (nKeys <- keyRungs) {
      val root = Files.createTempDirectory(s"graft-streamscale-$nKeys")
      try {
        val src = root.resolve("src")
        writeSlices(spark, nKeys, nSlices, src)
        println(s"PROGRESS rung keys=$nKeys slices written")
        System.out.flush()
        def stream(): DataFrame = spark.readStream
          .schema("user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
          .option("maxFilesPerTrigger", 1)
          .parquet(src.toString)
        def measure(shape: String)(out: => DataFrame): Unit =
          if (shapesRun(shape)) {
            val st = run(out, root.resolve(s"ckpt-$shape"), listener)
            rows += Row(shape, nKeys, st)
            println(f"PROGRESS $shape keys=$nKeys ${st.sec}%.1fs " +
              f"stateRows=${st.peakStateRows} stateMB=${st.peakStateMb}%.1f")
            System.out.flush()
          }

        measure("windowed") {
          EventStreams.windowedCounts(stream(),
            windowLength = "10 minutes", lateness = "30 minutes")
        }
        measure("dedup") {
          EventStreams.dedupWithinWatermark(stream(), lateness = "30 minutes")
        }
        measure("sessionize") {
          EventStreams.sessionize(stream().as[EventStreams.Event],
            gapMinutes = 15, lateness = "30 minutes").toDF()
        }
        measure("quota") {
          EventStreams.admitQuota(stream().as[EventStreams.Event], limit = 4L).toDF()
        }
        measure("join") {
          EventStreams.clickToPurchase(
            stream().filter(col("event_type") === "click"),
            stream().filter(col("event_type") === "purchase"),
            withinMinutes = 15, lateness = "30 minutes")
        }
      } finally rmTree(root)
    }

    val all = rows.result()
    println(f"%n${"shape"}%-12s ${"keys"}%9s ${"sec"}%8s ${"batches"}%8s ${"stateRows"}%10s ${"stateMB"}%8s ${"shufW MB"}%9s ${"tskew"}%6s ${"maxT ms"}%8s")
    all.foreach { r =>
      println(f"${r.shape}%-12s ${r.keys}%9d ${r.st.sec}%8.1f ${r.st.batches}%8d ${r.st.peakStateRows}%10d ${r.st.peakStateMb}%8.1f ${r.st.shufWMb}%9.1f ${r.st.tskew}%6.1f ${r.st.maxTaskMs}%8d")
    }
    if (keyRungs.length >= 2) {
      println(f"%nRATIOS ${keyRungs(keyRungs.length - 2)} -> ${keyRungs.last} keys (events scale with keys)")
      println(f"${"shape"}%-12s ${"sec x"}%8s ${"rows x"}%8s ${"mem x"}%8s")
      for (shape <- Seq("windowed", "dedup", "sessionize", "quota", "join") if shapesRun(shape)) {
        val byShape = all.filter(_.shape == shape)
        if (byShape.length >= 2) {
          val (a, b) = (byShape(byShape.length - 2), byShape.last)
          def ratio(x: Double, y: Double): String =
            if (x <= 0) "-" else f"${y / x}%.1f"
          println(f"$shape%-12s ${ratio(a.st.sec, b.st.sec)}%8s " +
            f"${ratio(a.st.peakStateRows.toDouble, b.st.peakStateRows.toDouble)}%8s " +
            f"${ratio(a.st.peakStateMb, b.st.peakStateMb)}%8s")
        }
      }
    }
    spark.stop()
  }
}
