package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.AnnQueries
import graft.operators.Similarity

/** Pins the ANN oracles' LOUD-REFUSAL boundaries against a real
  * embedded DuckDB, so the guards can't silently rot if someone
  * extends `Similarity.autoQuantBits` / `autoLshPlan` without
  * regenerating the matching oracle branches (r13-verdict residual 2;
  * r13-ADVICE found exactly this rot in the q31 guard — it fired at
  * n > 16 000 while `autoLshPlan` leaves the pinned 4×8 at n = 2 001).
  *
  * Each boundary gets BOTH directions: the last in-range corpus size
  * executes to completion, and the first out-of-range size raises
  * with the guard's message — never a silently smaller candidate pool
  * than the engine's.
  *
  * Corpora are synthesized in DuckDB (generate-on-scan, no parquet):
  * deterministic sign-mixed 64-dim vectors via sin(vec_id·(j+1)), so
  * bucket expressions see non-degenerate signs.
  */
class OracleBoundarySpec extends AnyFunSuite {

  private val driverAvailable =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: Throwable => false }

  /** Open a fresh in-memory DuckDB with a synthetic `embeddings` view
    * of exactly `n` rows (vec_id, label, 64-dim DOUBLE[] embedding).
    */
  private def withSyntheticEmbeddings(n: Long)(
      test: java.sql.Connection => Unit): Unit = {
    assume(driverAvailable, "duckdb_jdbc driver jar not on the test classpath")
    val conn = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = conn.createStatement()
      st.execute(
        s"""CREATE VIEW embeddings AS
           |SELECT range AS vec_id,
           |       CAST(range % 7 AS INTEGER) AS label,
           |       CAST(list_transform(range(0, 64),
           |              j -> sin(CAST((range + 1) * (j + 1) AS DOUBLE)))
           |            AS DOUBLE[]) AS embedding
           |FROM range($n)""".stripMargin)
      test(conn)
    } finally conn.close()
  }

  private def runOracle(conn: java.sql.Connection, name: String): Unit = {
    val sql = SparkEntry.oracleSql(name)
    val rs = conn.createStatement().executeQuery(sql)
    var rows = 0
    while (rs.next()) rows += 1
    assert(rows > 0, s"$name oracle returned no rows")
  }

  private def expectGuard(
      conn: java.sql.Connection, name: String, fragment: String): Unit = {
    val sql = SparkEntry.oracleSql(name)
    val e = intercept[java.sql.SQLException] {
      val rs = conn.createStatement().executeQuery(sql)
      while (rs.next()) {} // guards on lazily-evaluated branches fire here
    }
    assert(e.getMessage.contains(fragment),
      s"$name raised, but not the guard (got: ${e.getMessage.linesIterator.next()})")
  }

  // ---- q31 LSH leg: pinned (4 planes × 8 tables) holds only to n=2000 ----

  test("q31 oracle executes at n=2000 (last corpus where autoLshPlan is the pinned 4x8)") {
    // engine side of the boundary: the plan really is still (4, 8) here
    assert(Similarity.autoLshPlan(2000, 64) === ((4, 8)))
    withSyntheticEmbeddings(2000)(runOracle(_, "q31_emb_ann_lsh"))
  }

  test("q31 oracle refuses loudly at n=2001 (autoLshPlan grows tables to 9)") {
    // the guard exists because the engine's plan departs the oracle's
    // pinned 4x8 EXACTLY here — pin that fact too
    assert(Similarity.autoLshPlan(2001, 64)._2 > 8,
      "autoLshPlan no longer grows at n=2001 — move the q31 oracle guard")
    withSyntheticEmbeddings(2001)(
      expectGuard(_, "q31_emb_ann_lsh", "autoLshPlan grows past the pinned 4x8"))
  }

  // ---- adaptiveBucket: generated branches cover bits 7..10 (n ≤ 2^20) ----

  test("sign-IVF oracle refuses loudly past the generated bits branches (n > 2^20 => bits 11)") {
    // 2^20 + 1 rows => bl = 21 => autoQuantBits = 11, beyond the
    // CASE's generated 7..10 branches: must raise the regenerate
    // message, never bucket with a silently wrong layout.
    assert(Similarity.autoQuantBits((1L << 20) + 1, dim = 64) === 11,
      "autoQuantBits boundary moved — regenerate adaptiveBucket branches AND this spec")
    withSyntheticEmbeddings((1L << 20) + 1)(
      expectGuard(_, "q44_emb_ann_ivf", "quantizer bits > 10"))
  }

  test("sign-IVF oracle executes at a bits=8 synthetic corpus (in-branch sanity)") {
    // n=20000 => bl=15 => bits=8: exercises a NON-default generated
    // branch end-to-end, so the branch arithmetic itself is executed,
    // not just parsed (the driver gates only ever reach bits=7).
    assert(Similarity.autoQuantBits(20000, dim = 64) === 8)
    withSyntheticEmbeddings(20000)(runOracle(_, "q44_emb_ann_ivf"))
  }

  // ---- permille set: np_ columns exist for every interpolated permille ----

  test("signIvfProbeCtes refuses a permille with no np_ column at catalog-build time") {
    val e = intercept[IllegalArgumentException] {
      AnnQueries.signIvfProbeCtes(dim = 64, permille = 500)
    }
    assert(e.getMessage.contains("np_500"))
  }

  test("recallCalibrationOracleSql refuses an out-of-set grid permille") {
    val e = intercept[IllegalArgumentException] {
      AnnQueries.recallCalibrationOracleSql(
        dim = 64, gridPermilles = Seq(63, 999), m = 8, k = 5)
    }
    assert(e.getMessage.contains("999"))
  }
}
