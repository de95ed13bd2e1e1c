package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural lint of every oracle SQL string against a REAL embedded
  * DuckDB (the same engine family the driver's correctness gate runs),
  * via the test-scope JDBC driver.
  *
  * Motivation (r5 root cause of the four-round q38/q55–q57 hash-fail):
  * DuckDB types SUM(INTEGER/BIGINT) as HUGEINT (int128). Python's
  * fetchall() materializes HUGEINT as exact ints — so the LOCAL gate
  * stayed green — but a pandas/arrow materialization renders int128
  * differently (e.g. float64), and the four failing queries were
  * exactly the four (of 147) whose oracle OUTPUT columns were raw
  * integer SUMs. The rule this spec enforces: an oracle may use any
  * type internally, but every column it RETURNS must be a driver-safe
  * type — never HUGEINT (wrap integer aggregates in
  * CAST(... AS BIGINT)).
  *
  * The parse check also pins the q38-class risk surface proactively:
  * a new oracle that doesn't parse under embedded DuckDB would
  * otherwise only fail at the driver, one round later.
  */
class OracleLintSpec extends AnyFunSuite {

  private val driverAvailable =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: Throwable => false }

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def withViews(test: java.sql.Connection => Unit): Unit = {
    assume(driverAvailable, "duckdb_jdbc driver jar not on the test classpath")
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir)),
      s"testdata dir $sfDir absent")
    val conn = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = conn.createStatement()
      tables.foreach { t =>
        st.execute(s"CREATE VIEW $t AS SELECT * FROM '$sfDir/$t.parquet'")
      }
      test(conn)
    } finally conn.close()
  }

  test("every oracle parses under embedded DuckDB and returns no HUGEINT column") {
    withViews { conn =>
      val st = conn.createStatement()
      val offenders = scala.collection.mutable.ListBuffer.empty[String]
      val parseFails = scala.collection.mutable.ListBuffer.empty[String]
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
        try {
          // DESCRIBE typechecks the full query (including CTEs)
          // without executing it.
          val rs = st.executeQuery(s"DESCRIBE $sql")
          while (rs.next()) {
            val col = rs.getString("column_name")
            val tpe = rs.getString("column_type").toUpperCase
            if (tpe.contains("HUGEINT"))
              offenders += s"$name.$col: $tpe"
          }
        } catch {
          case e: java.sql.SQLException =>
            parseFails += s"$name: ${e.getMessage.linesIterator.next()}"
        }
      }
      assert(parseFails.isEmpty,
        s"oracle SQL failed to parse under embedded DuckDB:\n  ${parseFails.mkString("\n  ")}")
      assert(offenders.isEmpty,
        "oracle output columns typed HUGEINT (driver-unsafe — wrap in " +
          s"CAST(... AS BIGINT)):\n  ${offenders.mkString("\n  ")}")
    }
  }

  test("registry: every family has a name and at least one entry") {
    val fams = QueryCatalog.families
    assert(fams.map(_.name).distinct.size === fams.size)
    val empty = fams.filter(f => f.name.trim.isEmpty || f.entries.isEmpty).map(_.name)
    assert(empty.isEmpty, s"families without a name or entries: $empty")
    assert(QueryCatalog.familyOf.keySet === SparkEntry.queries.keySet)
  }
}
