package graft.etl

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

class PipelineMetricsSpec extends SparkSpec {

  test("observe() delivers exact quality counters with no extra scan") {
    import spark.implicits._
    @volatile var seen: Option[Map[String, Any]] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get("load_metrics").foreach { row =>
          seen = Some(row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq))
        }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = Seq(
        (1L, Some("x"), 5.0), (2L, None, -1.0), (3L, Some("y"), 2.0))
        .toDF("id", "tag", "score")
      val obs = Observation("load_metrics")
      val observed = Metrics.observeQuality(df, obs,
        nullCols = Seq("tag"),
        checks = Map("score_nonneg" -> (col("score") >= 0)))
      assert(observed.count() == 3) // the action the metrics ride on
      val deadline = System.currentTimeMillis() + 20000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val m = seen.getOrElse(fail("observed metrics never arrived"))
      assert(m("n_rows") == 3L)
      assert(m("n_null_tag") == 1L)
      assert(m("n_bad_score_nonneg") == 1L)
      assert(obs.get == m) // the same counters, read from the Observation
    } finally spark.listenerManager.unregister(listener)
  }
}
