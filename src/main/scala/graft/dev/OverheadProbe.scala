package graft.dev

import graft.{SparkEntry, Tables}

/** Dev tool: decompose the per-gate fixed overhead that multiplies by
  * 535 in a bench pass — where does a CHEAP gate's ~0.25-0.4 s go?
  *
  * Phases measured per query, steady-state (3rd repetition):
  *   build — `fn(spark, dir)` DataFrame construction (includes
  *           `Tables.load`'s `spark.read.parquet` schema inference and
  *           any driver-side setup the gate does);
  *   plan  — analysis + optimization + physical planning
  *           (`queryExecution.executedPlan` forced on a fresh copy);
  *   exec  — the noop-sink write on the SAME frame (re-plans again —
  *           write actions build their own QueryExecution — so exec
  *           minus plan isolates run-time from plan-time only
  *           approximately; the floor row below is the clean control).
  *
  * Control rows: `floor1` times a noop write of `spark.range(1)` (one
  * task, no shuffle) and `floor32` of `spark.range(N, parts=32)` + one
  * shuffle — the irreducible action/job/stage overheads of this box.
  *
  * Usage: runMain graft.dev.OverheadProbe <sfDir> <query...>
  */
object OverheadProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count()
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def nanos[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    // controls
    for (_ <- 1 to 3) evaluate(spark.range(1).toDF())
    val f1 = (1 to 3).map(_ => nanos(evaluate(spark.range(1).toDF()))._1).min
    import org.apache.spark.sql.functions._
    def shuffled = spark.range(0L, 1000L, 1L, cpus.toInt).toDF("id")
      .groupBy(expr("id % 7").as("k")).count()
    for (_ <- 1 to 3) evaluate(shuffled)
    val f32 = (1 to 3).map(_ => nanos(evaluate(shuffled))._1).min
    println(f"CONTROL floor1=$f1%.3f floor32=$f32%.3f")

    // what does ONE Tables.load cost at steady state (schema inference
    // + file listing per call), vs a schema-supplied read?
    val liSchema = Tables.load(spark, dir, "lineitem").schema
    val tl = (1 to 5).map(_ => nanos(Tables.load(spark, dir, "lineitem"))._1).min
    val ts = (1 to 5).map(_ =>
      nanos(spark.read.schema(liSchema).parquet(s"$dir/lineitem.parquet"))._1).min
    val tAll = (1 to 3).map(_ => nanos(
      Tables.names.foreach(n =>
        try Tables.load(spark, dir, n)
        catch { case _: org.apache.spark.sql.AnalysisException => () }))._1).min
    println(f"CONTROL load(lineitem)=$tl%.4f loadWithSchema=$ts%.4f loadAll10=$tAll%.4f")

    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // warm fully twice
      for (_ <- 1 to 2) evaluate(fn(spark, dir))
      val (tb, df) = nanos(fn(spark, dir))
      val (tp, _) = nanos(df.queryExecution.executedPlan)
      val (te, _) = nanos(evaluate(df))
      println(f"PROBE $n%-28s build=$tb%.3f plan=$tp%.3f exec=$te%.3f total=${tb + te}%.3f")
    }
    spark.stop()
  }
}
