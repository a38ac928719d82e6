package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: measure [[graft.dedup.Dedup.clusters]]' local-vs-
  * distributed cutoff (`localEdgeCap`, default 2²⁰ edges) — the one
  * regime constant in the engine that was CHOSEN rather than measured
  * (every Auto cutoff carries measured-rung provenance; this one
  * carried an analogy to broadcast-join sizing).
  *
  * Candidate-pair edge sets are the OUTPUT of near-dup detection, so
  * the realistic shapes are (a) `pairs` — isolated duplicate pairs,
  * the overwhelmingly common corpus shape (components of size 2,
  * union-find does two finds per edge, label propagation converges in
  * one round), and (b) `chains` — duplicate chains of length 64
  * (A~B~C~…: the worst case for label propagation, which needs
  * pointer-jumping rounds ∝ log(chain), while union-find stays ~O(α)).
  * Both are generated deterministically from spark.range.
  *
  * Per (shape, edge rung): min-of-3 interleaved same-JVM walls for the
  * FORCED-local path (cap = Long.MaxValue) vs the FORCED-distributed
  * path (cap = 0), counting the output rows to materialize. The edge
  * frame is pre-materialized (cache + count) so the A/B times the
  * component solve, not pair generation — matching the operator's
  * real position downstream of near-dup candidate verification.
  *
  * Usage: runMain graft.dev.ClusterAb [edges,edges,...]
  * (default 100000,1000000,10000000)
  */
object ClusterAb {

  /** Isolated duplicate pairs: (2i, 2i+1). */
  private def pairEdges(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).toDF("i")
      .select((col("i") * 2).as("doc_a"), (col("i") * 2 + 1).as("doc_b"))

  /** Chains of length 64: consecutive ids linked within each block. */
  private def chainEdges(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).toDF("i")
      // skip block boundaries so chains stay length-64
      .filter(pmod(col("i"), lit(64)) =!= 63)
      .select(col("i").as("doc_a"), (col("i") + 1).as("doc_b"))

  def main(args: Array[String]): Unit = {
    val rungs = args.headOption.getOrElse("100000,1000000,10000000")
      .split(",").toSeq.map(_.trim.toLong)
    val spark = graft.SessionDefaults
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f
      val t = (System.nanoTime() - t0) / 1e9
      require(n > 0, "empty result"); t
    }

    for (nEdges <- rungs; (shape, gen) <- Seq(
        "pairs" -> pairEdges _, "chains" -> chainEdges _)) {
      val edges = gen(spark, nEdges).cache()
      val realEdges = edges.count() // materialize outside the timers
      val forms = Seq(
        "local" -> (() => time(
          graft.dedup.Dedup.clusters(edges, localEdgeCap = Long.MaxValue).count())),
        "dist" -> (() => time(
          graft.dedup.Dedup.clusters(edges, localEdgeCap = 0L).count())))
      // min-of-3, interleaved so slow box phases hit both forms alike
      val mins = collection.mutable.Map("local" -> Double.MaxValue,
        "dist" -> Double.MaxValue)
      for (_ <- 1 to 3; (name, run) <- forms)
        mins(name) = math.min(mins(name), run())
      println(f"CLUSTERAB $shape%-7s edges=$realEdges%9d " +
        f"local=${mins("local")}%7.2fs dist=${mins("dist")}%7.2fs " +
        f"ratio(dist/local)=${mins("dist") / mins("local")}%5.2f")
      System.out.flush()
      edges.unpersist()
    }
    spark.stop()
  }
}
