package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Guards the scale-critical PLAN SHAPES, not just results: a regression
  * that keeps a query correct but drops its filter pushdown / broadcast
  * / partial top-k would only surface as a 100× slowdown on a real
  * cluster — these assertions fail it in CI instead. (The full plan
  * dump lives in `graft.tools.PlanDump`.)
  */
class PlanPropertiesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: comparison filters are pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.contains("GreaterThanOrEqual(l_quantity"),
      "l_quantity filter not pushed to the scan")
  }

  test("q02: scan reads only the projected+filtered columns, not the full table") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"),
      s"column pruning lost — scan reads unused columns: $readSchema")
  }

  test("q29: brute-force top-k cuts through the bounded aggregate, not a window sort") {
    // r14: rankTopK is a BoundedTopK ObjectHashAggregate — partial
    // aggregation cuts to k pairs per query map-side, so the exchange
    // carries heaps, never the |Q|·n scored pairs, and NOTHING sorts
    // the scored relation (the prior WindowGroupLimit shape still
    // emitted every map task's top-k into a global per-query sort —
    // 1 616 s of the sf10 sweep on q174's 800 M-pair cut).
    val p = plan("q29_emb_cosine_topk")
    assert(p.contains("ObjectHashAggregate"),
      "bounded top-k aggregate missing — ranking would sort the cross product")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window ("),
      s"a window sort crept back into the brute-force ranking:\n$p")
  }

  test("q45: TPC-H Q3 broadcasts the filtered customer side") {
    val p = plan("q45_tpch_q3")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      "dimension join is not broadcast — lineitem would shuffle for the join")
  }

  test("q40: dashboard query broadcasts both dims against the fact") {
    val p = plan("q40_pipeline_dashboard")
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"),
      "star joins lost their broadcast")
  }

  test("q61: sampling predicate evaluates directly on the scan") {
    // the only Exchange allowed is the final presentation sort; the
    // sampling filter itself must sit on the scan, before any shuffle
    val p = plan("q61_sample_deterministic")
    assert("Filter \\(\\d+\\)\\s*\\n\\s*\\+- Scan parquet".r.findFirstIn(p).isDefined,
      s"sampling filter is not directly on the scan:\n$p")
  }

  test("q03: scalar pipeline stays inside whole-stage codegen") {
    // AQE hides codegen ids until the plan is finalized — execute THIS
    // QueryExecution (count() would build a separate one)
    val df = SparkEntry.queries("q03_derived_columns")(spark, dir)
    df.collect()
    val p = planOf(df)
    assert(p.contains("codegen id"), s"scalar pipeline fell out of codegen:\n$p")
  }

  test("q174: ADC scan broadcasts the packed-codes side below the budget (cache-local loop order)") {
    // r14: the nested-loop join's INNER side is re-read per outer row,
    // so below the ~4M-vector budget the codes must be the broadcast
    // (build) side and the per-query LUTs stream — each task's 16KB
    // LUT stays cache-resident (sf10: 1617s -> 23s). BuildLeft pins
    // the adcScan dispatch took the broadcast-codes branch.
    val p = plan("q174_emb_ann_pq_adc")
    assert(p.contains("BroadcastNestedLoopJoin Cross BuildLeft"),
      s"ADC scan no longer broadcasts the codes side:\n$p")
  }

  test("q175/q181: the IVFADC candidate stream never crosses an exchange (r15 sf30 cliff)") {
    // the probed (query, list, lc) relation broadcasts onto the code
    // table's list_id and candidates score inline — no pair-derived
    // row meets a shuffle before the BoundedTopK cut. The ONE
    // SortMergeJoin allowed is the corpus-linear exact-rerank fetch
    // (survivors × corpus floats). The old shape shuffled the
    // candidate stream twice (onto packCodes and listConst): at sf30
    // that is 3.15 B rows — it spilled past the sandbox's free disk
    // and died (SCALING.md r15).
    for (q <- Seq("q175_emb_ann_ivfadc", "q181_ann_ivfadc_compacted")) {
      val p = plan(q)
      // formatted explain prints each node twice (tree + detail);
      // count the detail headers. The allowed SMJs are query-batch-
      // bounded (the centroid probe's pairwise rank join, which the
      // plan materializes up to twice) or corpus-linear (the rerank
      // fetch); the REGRESSION signature is the candidate stream
      // shuffling onto packCodes/listConst, which adds two more.
      val smj = "(?m)^\\(\\d+\\) SortMergeJoin".r.findAllIn(p).size
      assert(smj <= 2, s"$q: a pair-stream join lost its broadcast " +
        s"($smj SortMergeJoins):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian crept in:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"$q: bounded top-k cut missing:\n$p")
    }
  }

  test("q77/q79: rank-truncation plans a partial WindowGroupLimit") {
    // quota sampling and TF-IDF top-k both filter row_number()<=k; the
    // partial group-limit before the shuffle is what keeps the window
    // from materializing every (stratum|doc) group in full
    assert(plan("q77_sample_lang_quota").contains("WindowGroupLimit"),
      "quota rank not pre-truncated before the stratum shuffle")
    assert(plan("q79_docs_tfidf").contains("WindowGroupLimit"),
      "tf-idf top-k rank not pre-truncated")
  }

  test("q79: the 1-row corpus count is broadcast, not shuffled") {
    val p = plan("q79_docs_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"n_docs cross join must broadcast the 1-row side:\n$p")
  }

  test("q75: exact-N sampling plans TakeOrdered, not a global sort") {
    val p = plan("q75_sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy().limit(n) must compile to per-partition top-N:\n$p")
  }

  test("dedup kernels: shingle/minhash projection is codegen'd, not interpreted") {
    val d = sources.Tables.load(spark, dir, "documents")
    val prepared = operators.Dedup.prepareNearDup(d, "doc_id", "text", 16)
    val p = planOf(prepared)
    assert(p.contains("codegen id"),
      s"custom expressions must run inside whole-stage codegen:\n$p")
  }

  test("q128: fuzzy match is an equi-join on the block key, never a cross join") {
    val p = plan("q128_docs_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix blocking must plan as an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "expected a hash/merge join on the block key")
  }

  test("q133: the top-200 vocabulary joins broadcast, the corpus never re-shuffles for it") {
    val p = plan("q133_docs_lm_coverage")
    assert(p.contains("BroadcastHashJoin"),
      s"fixed-size vocabulary must broadcast:\n$p")
  }

  test("q140: top-10 paths plan TakeOrdered, not a global sort") {
    val p = plan("q140_events_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy().limit(10) must compile to per-partition top-N:\n$p")
  }

  test("q175: residual IVFADC joins only equi-keys past the centroid broadcast") {
    // the ONLY nested-loop in the tree may be the ≤2^bits-row centroid
    // cross (an explicit broadcast by design — the probe's pairwise
    // rank); every corpus-sized join (codes, candidates, ADC lookups,
    // list constants) must be an equi-join, or the compressed-domain
    // scan silently goes quadratic in floats
    val p = plan("q175_emb_ann_ivfadc")
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast cartesian may survive:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the centroid/codebook sides must broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"corpus-side joins must be equi-joins:\n$p")
  }

  test("q177: the calibration sweep is one window pass per family, not one per grid point") {
    // the r9 restructure: grid points share the probe/ADC computation
    // and rank inside a (query_id, n_probe)-partitioned window — if a
    // future edit reintroduces the per-point loop, the plan fans out
    // into |grid| window subtrees and this count triples
    val df = SparkEntry.queries("q177_ann_recall_calibration")(spark, dir)
    val p = planOf(df)
    val windows = "(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p).size +
      "WindowGroupLimit".r.findAllIn(p).size
    // sign-IVF rank + ADC cut + ADC cosine re-rank, each planning a
    // Window plus partial/final WindowGroupLimit pairs = 12 stages,
    // independent of grid size (the per-point loop planned ~3× this
    // for the 3-point grid)
    assert(windows <= 12, s"window stages multiplied with the grid ($windows):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scaffold/constant crosses must be broadcast:\n$p")
  }

  test("q182: the benchmark side is broadcast — the corpus never shuffles for the screen") {
    val p = plan("q182_emb_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bench side lost its broadcast — the corpus would shuffle:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cross product over the corpus:\n$p")
  }

  test("q183: the blocked screen is an equi-join on list_id, never a nested loop") {
    val p = plan("q183_emb_decontaminate_blocked")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocked screen degraded to an all-pairs join:\n$p")
    assert(p.contains("list_id"),
      s"block key missing from the plan:\n$p")
  }
}
