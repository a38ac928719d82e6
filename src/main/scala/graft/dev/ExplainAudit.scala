package graft.dev

import graft.SparkEntry

/** Dev tool: dump formatted plans for selected queries so scan
  * pruning (ReadSchema/PushedFilters), join strategies and
  * whole-stage-codegen spans can be audited per round.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_groupby_agg", "q11_join_dims", "q12_topk",
        "q13_anti_join", "q20_overlap_join", "q36_ns_overlap",
        "q103_star_join", "q105_containment", "q125_correlated_avg",
        "q126_sole_failure")
    val spark = graft.SessionDefaults
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
