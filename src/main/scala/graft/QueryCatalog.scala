package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/** The declared operator inventory (SURVEY.md §2 + the LLM-pipeline
  * extensions), one runnable query per operator, each registered once
  * in a family module under `graft.catalog` together with its DuckDB
  * oracle SQL.
  *
  * Determinism rules (the driver hash-compares results):
  *  - no raw double SUM/AVG — aggregate decimals (exact, associative)
  *    and cast the final value to double, identically on both sides;
  *  - a double built from exact sums and ONE division is bit-identical
  *    across engines — leave it raw. Do NOT round() it: Spark rounds
  *    the shortest decimal repr (HALF_UP on BigDecimal) while DuckDB
  *    rounds the scaled binary value, and they disagree exactly when
  *    the quotient is a nice rational on a digit boundary (observed on
  *    q18 at sf0.01). Where coarsening is genuinely needed (q38's
  *    environment-sensitive regex/cast inputs), round explicitly via
  *    floor(x * 10^d + 0.5) / 10^d — identical IEEE ops on both sides;
  *  - every query ends in a total ORDER BY;
  *  - timestamps leave as formatted strings;
  *  - ints standardized to BIGINT.
  */
object QueryCatalog {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Every family module; a query is added by appending one [[Entry]],
    * with its oracle, to its family's `entries`.
    */
  val families: Seq[Family] = Seq(RelationalQueries, TpchQueries,
    EtlQueries, EventQueries, AnnQueries, DedupQueries, CurationQueries, LmQueries,
    MultimodalQueries, SamplingQueries)

  /** The families' entries in registration order, each with its family
    * name. A name registered twice is rejected: a map literal would keep
    * the later entry without a word.
    */
  private[graft] def register(fs: Seq[Family]): Seq[(String, Entry)] = {
    val all = fs.flatMap(f => f.entries.map(f.name -> _))
    val dups = all.groupBy(_._2.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"catalog query registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  private val registry: Seq[(String, Entry)] = register(families)

  val queries: Map[String, QueryFn] = registry.map { case (_, e) => e.name -> e.run }.toMap

  val oracleSql: Map[String, String] = registry.map { case (_, e) => e.name -> e.oracle }.toMap

  /** Family name per query (the per-family cost column of QSweep). */
  val familyOf: Map[String, String] = registry.map { case (f, e) => e.name -> f }.toMap
}
