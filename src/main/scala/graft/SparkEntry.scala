package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AggregateGates, AnalyticsGates, CurationGates, GraphGates, NsGates, QueryDef, RelationalGates, SimilarityGates, StatisticsGates, StoreGates, StreamingGates, TextGates, TrainingDataGates}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed here as a
  * named query over the driver's synthetic tables, paired with a
  * DuckDB oracle SQL (the driver's correctness gate hash-compares the
  * two at sf0.01).
  */
object SparkEntry {

  /** Every gate by name, from one module per operator family (the
    * covers prefix → family table heads COVERAGE.md). */
  private lazy val defs: Map[String, QueryDef] = registry(
    NsGates.all ++ RelationalGates.all ++ AggregateGates.all ++
      AnalyticsGates.all ++ StatisticsGates.all ++ StreamingGates.all ++
      TextGates.all ++ CurationGates.all ++ SimilarityGates.all ++
      GraphGates.all ++ StoreGates.all ++ TrainingDataGates.all)

  /** The gates keyed by name. Fails with the duplicated names listed
    * if two gates share one: a plain `toMap` would keep one of them
    * without a sound. */
  private[graft] def registry(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q11_join_dims")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, d) => n -> d.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap { case (n, d) => d.oracle.map(n -> _) }

  /** Oracles that need the live (spark, testdata dir) pair to render —
    * gates whose SQL inlines data-derived model literals (trained ANN
    * centroids/codebooks). Verify evaluates these at dump time and
    * merges them into oracle_sql.json alongside [[oracleSql]]. */
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    defs.flatMap { case (n, d) => d.dynOracle.map(n -> _) }
}
