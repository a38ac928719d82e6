package graft.dev

/** Dev tool: print `executedPlan.toString` (the exact text
  * PlanGuardSpec parses) for named gates.
  */
object PlanString {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.SessionDefaults
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
