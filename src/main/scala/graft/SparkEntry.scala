package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A `val`:
    * the union of the module maps is built once, not on every lookup. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Aggregates.queries ++ Relational.queries ++ Windows.queries ++
      Generators.queries ++ Scalars.queries ++ DesFiles.queries ++
      StreamingOps.queries ++ LlmOps.queries ++ Analytics.queries ++
      Skew.queries ++ Layout.queries ++ Ids.queries ++ Quality.queries ++
      Spatial.queries ++ Eval.queries ++
      graft.sources.Sources.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = graft.oracle.OracleSql.all
}
