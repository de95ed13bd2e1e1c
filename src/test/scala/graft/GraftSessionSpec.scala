package graft

import org.apache.spark.sql.functions.{col, lit}

/** Pins the session-sizing derivation (VERDICT r11 #5): shuffle width
  * defaults to the core count — the sf10 sweep measured 96-wide
  * shuffles 2–4× slower than 32 at fixed 32 cores on the ANN family
  * (q185 501 s → 121 s) — with `SPARK_GRAFT_SHUFFLE` as the explicit
  * override, and the assumed core count comes from `SPARK_GRAFT_CPUS`
  * else the JVM's visible processors. The env-injectable overloads
  * make both branches testable regardless of the test JVM's real
  * environment; the no-arg forms are pinned to agree with the
  * injectable forms on the real env. The profile's codegen class cache
  * is checked on the shared session, which is built from the profile.
  */
class GraftSessionSpec extends SparkSpec {

  test("shuffle width defaults to the core count when no override is set") {
    assert(GraftSession.shuffleWidth(4, Map.empty) === 4)
    assert(GraftSession.shuffleWidth(32, Map.empty) === 32)
    assert(GraftSession.shuffleWidth(96, Map.empty) === 96)
  }

  test("SPARK_GRAFT_SHUFFLE overrides the core-derived width") {
    assert(GraftSession.shuffleWidth(32, Map("SPARK_GRAFT_SHUFFLE" -> "96")) === 96)
    assert(GraftSession.shuffleWidth(96, Map("SPARK_GRAFT_SHUFFLE" -> "32")) === 32)
    // unrelated env keys do not override
    assert(GraftSession.shuffleWidth(8, Map("SPARK_GRAFT_CPUS" -> "96")) === 8)
  }

  test("assumed cores = SPARK_GRAFT_CPUS else the JVM's visible processors") {
    assert(GraftSession.availableCores(Map("SPARK_GRAFT_CPUS" -> "7")) === 7)
    assert(GraftSession.availableCores(Map.empty) ===
      Runtime.getRuntime.availableProcessors())
  }

  // malformed values a plain `.toInt` either rejected without naming
  // the variable or passed on to Spark (0 → local[0] / 0 partitions)
  private val badCounts = Seq("abc", "0", "-4", "", "1.5", " 6")

  test("SPARK_GRAFT_CPUS must be a positive integer, else the error names it") {
    for (bad <- badCounts) {
      val e = intercept[IllegalArgumentException](
        GraftSession.availableCores(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage === s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }

  test("SPARK_GRAFT_SHUFFLE must be a positive integer, else the error names it") {
    for (bad <- badCounts) {
      val e = intercept[IllegalArgumentException](
        GraftSession.shuffleWidth(8, Map("SPARK_GRAFT_SHUFFLE" -> bad)))
      assert(e.getMessage === s"SPARK_GRAFT_SHUFFLE must be a positive integer, got '$bad'")
    }
  }

  test("the no-arg forms read the real environment (same derivation)") {
    assert(GraftSession.availableCores === GraftSession.availableCores(sys.env))
    assert(GraftSession.shuffleWidth(13) === GraftSession.shuffleWidth(13, sys.env))
  }

  test("generated classes beyond Spark's default 100-entry cache compile once") {
    // each projection inlines its own literal (offset so no other
    // suite's plan can share one), so each is a distinct generated
    // class: 160 of them overflow the default LRU, and there a second
    // sweep recompiles every one of them
    val n = 160
    def sweep(): Long = {
      val before = GraftSession.codegenCompiles
      (1 to n).foreach { i =>
        spark.range(4).select((col("id") * lit(7919000L + i)).as("x")).collect()
      }
      GraftSession.codegenCompiles - before
    }
    val first = sweep()
    val second = sweep()
    assert(first >= n, s"first sweep compiled $first classes")
    assert(second === 0L, s"second sweep recompiled $second classes")
  }
}
