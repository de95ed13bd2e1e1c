package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * 3-way star join + aggregation (the reference's dashboard shape).
    */
  def entry(spark: SparkSession): DataFrame =
    QueryCatalog.queries("q06_join_3way_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * LLM-pipeline extensions).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = QueryCatalog.queries

  /** DuckDB-runnable oracle SQL per query, one for every entry of
    * [[queries]].
    */
  def oracleSql: Map[String, String] = QueryCatalog.oracleSql
}
