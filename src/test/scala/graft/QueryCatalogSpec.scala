package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape, and smoke: every declared query runs on
  * sf0.001 and yields rows. Value-level correctness is the DuckDB
  * oracle gate (tools/local_verify.py).
  */
class QueryCatalogSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("registry: 200 uniquely named entries, each with a non-blank oracle") {
    val entries = QueryCatalog.families.flatMap(_.entries)
    assert(entries.size === 200)
    assert(entries.map(_.name).distinct.size === entries.size)
    assert(SparkEntry.queries.keySet === entries.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    val blank = entries.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"entries with a blank oracle: $blank")
  }

  test("registering a query name twice throws") {
    val e = QueryCatalog.families.head.entries.head
    val twice = new catalog.Family {
      val name = "twice"
      val entries = Seq(e, e.copy(oracle = "SELECT 1"))
    }
    val err = intercept[IllegalArgumentException](QueryCatalog.register(Seq(twice)))
    assert(err.getMessage.contains(e.name))
  }

  test("Bench warmup and BareSmoke query names all resolve in the catalog") {
    val names = Bench.warmupQueries ++ tools.BareSmoke.queries.map(_._2)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: $unknown")
  }

  test("every query returns rows on sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with 0 rows: $empty")
  }

  test("entry() smoke: flagship query yields rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dashboard serve-layer result cache survives repeated serves and dir switches") {
    // q55 serves dashboard Q2 through the per-(session, dir) result
    // cache; q164 derives from the same served result. Serving twice
    // must be value-identical, and switching sf dirs must evict — a
    // stale cached result from the other dir would differ in rows.
    val q55 = SparkEntry.queries("q55_pipeline_dash_q2")
    val first = q55(spark, sfDir).collect().toSeq
    assert(first.nonEmpty)
    assert(q55(spark, sfDir).collect().toSeq === first, "repeat serve diverged")
    val other = q55(spark, "/root/testdata/sf0.01").collect().toSeq
    assert(other.size !== first.size, "dir switch should change the result set")
    assert(q55(spark, sfDir).collect().toSeq === first,
      "switching back must rebuild and re-serve the original result")
  }
}
