package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Pipeline observability via `Dataset.observe` (CollectMetrics):
  * quality counters computed INSIDE whatever job already runs — no
  * second scan, exact even under retries, and streaming-safe (per
  * micro-batch). The runtime twin of the q110 constraint suite: q110
  * audits a table at rest, these metrics watch rows as they flow
  * through a load, which is how the reference's per-run record counts
  * (`src/pipeline.py:304-342`) scale without re-reading the input.
  */
object Metrics {

  /** Attach row/null/violation counters to `df`, delivered to `obs`
    * (metric name `obs.name`) by the first action that completes on the
    * returned frame: read them with `obs.get` after it, or from a
    * `QueryExecutionListener` (see PipelineMetricsSpec). `checks` are
    * predicate columns counted when FALSE (violations).
    */
  def observeQuality(
      df: DataFrame,
      obs: Observation,
      nullCols: Seq[String],
      checks: Map[String, Column] = Map.empty): DataFrame = {
    val nullCounters = nullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c"))
    val checkCounters = checks.toSeq.sortBy(_._1).map { case (n, pred) =>
      sum(when(pred, 0L).otherwise(1L)).as(s"n_bad_$n")
    }
    df.observe(obs, count(lit(1)).as("n_rows"), nullCounters ++ checkCounters: _*)
  }
}
