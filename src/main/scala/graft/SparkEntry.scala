package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtQueries, VersionQueries, WoqlQueries}

/** Query entry points and their oracles — see SURVEY.md §7.
  * Each `queries` entry exercises one operator of the SURVEY §2
  * inventory (WOQL engine) or one LLM-pipeline extension operator;
  * `oracleSql` holds the DuckDB-equivalent SQL over the raw parquet. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY §7.4 minimum slice: storage → EAV → compiler core → join → filter. */
  def entry(spark: SparkSession): DataFrame =
    queries("woql_flagship")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    WoqlQueries.queries ++ ExtQueries.queries ++ VersionQueries.queries

  def oracleSql: Map[String, String] =
    WoqlQueries.oracleSql ++ ExtQueries.oracleSql ++ VersionQueries.oracleSql
}
