package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark plan, built by `run(spark, sfDir)`,
  * and the DuckDB SQL the correctness gate compares its result against.
  */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

/** A named group of catalog entries — one module under `graft.catalog`. */
trait Family {
  def name: String
  def entries: Seq[Entry]
}
