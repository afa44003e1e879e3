package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CtShapeQueries, PipelineQueries, RelationalQueries, StreamingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every declared operator query (one per SURVEY §2
  * inventory row realized over the driver testdata); `oracleSql` carries the
  * DuckDB-equivalent SQL for the hash-match correctness gate.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ CtShapeQueries.queries ++
      PipelineQueries.queries ++ StreamingQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ CtShapeQueries.oracleSql ++
      PipelineQueries.oracleSql ++ StreamingQueries.oracleSql
}
