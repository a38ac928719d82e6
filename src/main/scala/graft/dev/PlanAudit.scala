package graft.dev

/** Dev tool: sweep EVERY registered query's physical plan and flag
  * scale hazards — SortAggregate demotions (a non-hashable aggregate
  * buffer forces per-partition sorts), CartesianProduct /
  * BroadcastNestedLoopJoin (quadratic joins; benign when the build
  * side is a 1-row scalar subquery), plus the Exchange count. Run per
  * round after correctness goes green; `dev/ExplainAudit` then dumps
  * the full plan of anything flagged here.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionDefaults
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        val flags = Seq(
          "SortAggregate" -> plan.contains("SortAggregate"),
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BcastNLJoin" -> plan.contains("BroadcastNestedLoopJoin"))
          .filter(_._2).map(_._1)
        val nEx = "Exchange".r.findAllIn(plan).length
        if (flags.nonEmpty) println(s"FLAG $name: ${flags.mkString(",")} exchanges=$nEx")
      } catch { case e: Throwable => println(s"ERR $name ${e.getClass.getSimpleName}") }
    }
    spark.stop()
  }
}
