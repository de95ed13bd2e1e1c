package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Similarity, Sketches, Windows}
import graft.catalog.CatalogSupport._

/** Embedding similarity: exact top-k, LSH, sign-IVF, PQ/ADC and
  * residual IVFADC (in flight, persisted, appended, compacted),
  * recall calibration and semantic decontamination — with the SQL
  * generators that reproduce each quantizer exactly in DuckDB.
  */
object AnnQueries extends Family {
  val name = "ann"

  /** Corpus-scaled IVF parameters of the embeddings frame `e`, as
    * (quantizer bits, exact-rerank cut). Occupancy-tuned quantizer
    * width: 7 bits (128 lists) at every gated scale — the layout
    * the pinned oracles encode — growing toward nlist ≈ √n beyond
    * (sweep scales), where fixed bits made probed candidate pools grow
    * ∝ n. Occupancy-scaled rerank cut: 96 at every gated scale (the
    * pinned oracle budget), ~n/100 beyond — a fixed cut starves ADC
    * recall as the corpus grows (SCALING.md).
    */
  private def ivfParams(e: DataFrame): (Int, Int) = {
    val n = probeCount(e)
    (Similarity.autoQuantBits(n, 64), Similarity.autoAdcRerank(n))
  }

  /** The probe permilles `annParamsCte` emits `np_P` columns for.
    * `signIvfProbeCtes` / `recallCalibrationOracleSql` interpolate
    * `np_$p` column names from their arguments, so a permille outside
    * this set would generate SQL referencing a nonexistent column —
    * a binder error at oracle RUN time, far from the call site. Both
    * generators `require` membership instead (fail at CATALOG-BUILD
    * time, at the offending call).
    */
  private val annPermilles: Seq[Int] = Seq(63, 188, 375, 438)

  /** The ANN auto-budget params as ONE SQL CTE (`ap`), mirroring
    * `Similarity.autoQuantBits` / `probeBudget` / `autoAdcRerank`
    * exactly: the ENGINE side of every ANN catalog query derives its
    * quantizer width, probe count and rerank cut from the corpus
    * count, so a FIXED-constant oracle only matches at gated scales
    * (n ≤ 2 000 ⇒ bits 7; at n = 200 000 the engine runs 512 lists
    * / 192 probes, where a fixed 128/48 oracle hash-fails q134). This CTE recomputes the
    * same integers from `COUNT(*) OVER embeddings`:
    *   bl   = ceil(log2 n)            (floor(log2(n-1))+1; exact —
    *                                   log2 of a power of two is
    *                                   IEEE-exact, so no FP edge)
    *   bits = min(max(7, (bl+1)//2), 16)           [autoQuantBits]
    *   np_P = max(1, (1<<bits)·P // 1000)          [probeBudget @ P‰]
    *   rk   = min(max(96, n//100), 1024)           [autoAdcRerank]
    * All four catalog permilles (63/188/375/438) are emitted so one
    * shape serves every caller; scalar subqueries on `ap` fold to
    * constants in DuckDB.
    */
  private val annParamsCte: String = {
    val nps = annPermilles.map(p =>
      s"       GREATEST(1, ((CAST(1 AS BIGINT) << bits) * $p) // 1000) AS np_$p").mkString(",\n")
    s"""ap AS (
       |  SELECT n, bits,
       |$nps,
       |       LEAST(GREATEST(96, n // 100), 1024) AS rk
       |  FROM (
       |    SELECT n, CAST(LEAST(GREATEST(7,
       |        ((CASE WHEN n <= 1 THEN 0
       |          ELSE CAST(floor(log2(CAST(n - 1 AS DOUBLE))) AS BIGINT) + 1
       |          END) + 1) // 2), 16) AS INTEGER) AS bits
       |    FROM (SELECT COUNT(*) AS n FROM embeddings) t0) t1
       |)""".stripMargin
  }

  /** The sign-quantizer list id as a bits-ADAPTIVE expression: one
    * generated branch per realizable `autoQuantBits` value (7 → n ≤
    * 8 192 … 10 → n ≤ 1 048 576, each branch's plane positions from
    * the same `Similarity.quantDims` the engine strides), switched on
    * `ap.bits` at runtime. Beyond the generated branches the CASE
    * falls to a CAST that raises — a corpus past ~1M vectors fails
    * LOUDLY rather than bucketing with a silently wrong layout (the
    * engine itself has no such limit; regenerate with more branches).
    */
  private def adaptiveBucket(v: String, dim: Int): String = {
    val branches = (7 to 10).map { bits =>
      val expr = Similarity.quantDims(dim, bits).zipWithIndex.map {
        case (d, j) => s"(CASE WHEN $v[$d] > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n         + ")
      s"""       WHEN (SELECT bits FROM ap) = $bits THEN
         |           $expr""".stripMargin
    }.mkString("\n")
    s"""(CASE
       |$branches
       |       ELSE CAST('graft oracle: corpus needs quantizer bits > 10 (n > ~1M); regenerate adaptiveBucket with more branches' AS INTEGER)
       |       END)""".stripMargin
  }

  /** The sign-IVF probe as a reusable CTE chain (ap, q, c, cl, …,
    * probe): `signIvfOracleSql` closes it with the exact-cosine
    * ranking; `ivfAdcOracleSql` (q175) splices the PQ CTEs between the
    * probe and its own ranking. One generator, so the probe arithmetic
    * cannot drift between the two oracles. Quantizer width and probe
    * count come from the `ap` params CTE (scale-adaptive — see
    * [[annParamsCte]]); `permille` picks which probe fraction the cut
    * uses (375 for the sign-IVF family, 438 for ADC).
    */
  private[graft] def signIvfProbeCtes(
      dim: Int, permille: Int,
      centroidWhere: String = "", queryLimit: Option[Int] = None): String = {
    require(annPermilles.contains(permille),
      s"signIvfProbeCtes: permille=$permille has no np_$permille column in " +
        s"annParamsCte (emitted set: ${annPermilles.mkString(",")}) — add it " +
        "there or the oracle SQL binds against a nonexistent column")
    val scale = Similarity.centroidScale
    def bucket(v: String) = adaptiveBucket(v, dim)
    // `centroidWhere` restricts the POPULATION the centroids are
    // computed from (q179's frozen-at-build-time coarse quantizer);
    // empty = centroids over the whole corpus (q44/q72/q134/q175...).
    val cw = if (centroidWhere.isEmpty) "" else s"\n  WHERE $centroidWhere"
    // q199's sampled sweep: hash-priority sample of the query set —
    // md5 of the id STRING is the one priority hash both engines
    // compute identically (Spark has xxhash64, DuckDB does not)
    val ql = queryLimit
      .map(mq => s"\n  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id\n  LIMIT $mq")
      .getOrElse("")
    s"""$annParamsCte, q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id % 50 = 0$ql
       |), c AS (
       |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
       |), cl AS (
       |  SELECT neighbor_id, cv,
       |         ${bucket("cv")} AS list_id
       |  FROM c
       |), cs AS (
       |  SELECT list_id, pos,
       |         SUM(CAST(floor(cv[CAST(pos AS INTEGER)] * $scale) AS BIGINT)) AS s,
       |         COUNT(*) AS cnt
       |  FROM cl CROSS JOIN generate_series(1, $dim) AS g(pos)$cw
       |  GROUP BY list_id, pos
       |), cm AS (
       |  SELECT list_id, pos, (s - ((s % cnt) + cnt) % cnt) // cnt AS m FROM cs
       |), ct AS (
       |  SELECT list_id, SUM(m * m) AS t2 FROM cm GROUP BY list_id
       |  HAVING SUM(m * m) > 0
       |), qi AS (
       |  SELECT query_id, pos,
       |         CAST(floor(qv[CAST(pos AS INTEGER)] * $scale) AS BIGINT) AS qx
       |  FROM q CROSS JOIN generate_series(1, $dim) AS g(pos)
       |), sc AS (
       |  SELECT qi.query_id, cm.list_id,
       |         SUM(qi.qx * cm.m) AS s2, ANY_VALUE(ct.t2) AS t2
       |  FROM qi JOIN cm ON qi.pos = cm.pos
       |  JOIN ct ON cm.list_id = ct.list_id
       |  GROUP BY qi.query_id, cm.list_id
       |), pr AS (
       |  SELECT a.query_id, a.list_id,
       |         SUM(CASE
       |           WHEN b.s2 >= 0 AND a.s2 < 0 THEN 1
       |           WHEN b.s2 < 0 AND a.s2 >= 0 THEN 0
       |           WHEN b.s2 >= 0 AND a.s2 >= 0
       |                AND CAST(b.s2 AS HUGEINT) * b.s2 * a.t2
       |                  > CAST(a.s2 AS HUGEINT) * a.s2 * b.t2 THEN 1
       |           WHEN b.s2 < 0 AND a.s2 < 0
       |                AND CAST(b.s2 AS HUGEINT) * b.s2 * a.t2
       |                  < CAST(a.s2 AS HUGEINT) * a.s2 * b.t2 THEN 1
       |           WHEN (b.s2 >= 0) = (a.s2 >= 0)
       |                AND CAST(b.s2 AS HUGEINT) * b.s2 * a.t2
       |                  = CAST(a.s2 AS HUGEINT) * a.s2 * b.t2
       |                AND b.list_id < a.list_id THEN 1
       |           ELSE 0 END) AS nbetter
       |  FROM sc a JOIN sc b ON a.query_id = b.query_id
       |  GROUP BY a.query_id, a.list_id
       |), probe AS (
       |  SELECT query_id, list_id FROM pr WHERE nbetter < (SELECT np_$permille FROM ap)
       |)""".stripMargin
  }

  // simd precomputes the narrow sort key BELOW the window so DuckDB's
  // window sort carries (query_id, neighbor_id, simk) instead of the
  // two dim-double arrays per candidate row — at sf10 (|Q| = 4 000,
  // ~300 M candidate rows) the inline form sorts ~300 GB and OOMs the
  // sandbox; this form runs in ~40 s with zero spill. Same integers.
  private def signIvfOracleSql(dim: Int, k: Int): String =
    s"""WITH ${signIvfProbeCtes(dim, permille = 375)}, simd AS (
       |  SELECT probe.query_id, cl.neighbor_id,
       |         floor(list_cosine_similarity(q.qv, cl.cv) * 1000000) AS simk
       |  FROM probe
       |  JOIN q ON probe.query_id = q.query_id
       |  JOIN cl USING (list_id)
       |  WHERE probe.query_id <> cl.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY simk DESC, neighbor_id) AS rank
       |  FROM simd
       |)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Shared by q44 (in-flight), q72 (persisted index), and q134
    * (append-maintained index): identical parameters ⇒ identical
    * results, so one oracle value-checks all three — the index ≡
    * in-flight equivalence becomes part of the correctness gate. The SQL is
    * GENERATED from the same `Similarity.quantDims` the operator uses
    * (1-indexed sign tests), so the quantizer dims, probe ranking, and
    * probe budget cannot drift between engine and oracle. Probe rule:
    * lists rank by cosine proximity of the query to each list's integer centroid —
    * component means of ⌊v·10⁴⌋ by exact floor division, score
    * s2/√t2 compared via sign cases + cross-multiplied squares in
    * HUGEINT (mirrors Spark's DECIMAL(38,0)), zero-centroid lists
    * excluded, list_id breaking exact ties. Measured recall@5 at the
    * 48-of-128 budget: 0.86/0.79 at sf0.01/sf0.1.
    */
  private val signIvfOracle: String = signIvfOracleSql(dim = 64, k = 5)

  /** The PQ arithmetic as a reusable CTE chain (pcodes → pcs → pcm →
    * pqi → psc), referencing the q/c CTEs the caller's WITH already
    * defines. Names are p-prefixed so the chain composes with the
    * sign-IVF probe chain (q175) without collisions.
    */
  private def pqCtes(dim: Int, m: Int): String = {
    val blocks = Similarity.pqBlocks(dim, m)
    val w = dim / m
    val scale = Similarity.centroidScale
    def codeExpr(v: String, b: Seq[Int]) = b.zipWithIndex.map { case (d, j) =>
      s"(CASE WHEN $v[$d] > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n         + ")
    val codeBranches = blocks.zipWithIndex.map { case (b, j) =>
      s"""  SELECT neighbor_id, cv, $j AS sub,
         |         ${codeExpr("cv", b)} AS code
         |  FROM c""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""pcodes AS (
       |$codeBranches
       |), pcs AS (
       |  SELECT sub, code, pp,
       |         SUM(CAST(floor(cv[CAST(sub * $w + pp AS INTEGER)] * $scale) AS BIGINT)) AS s,
       |         COUNT(*) AS cnt
       |  FROM pcodes CROSS JOIN generate_series(1, $w) AS g(pp)
       |  GROUP BY sub, code, pp
       |), pcm AS (
       |  SELECT sub, code, pp, (s - ((s % cnt) + cnt) % cnt) // cnt AS mc FROM pcs
       |), pqi AS (
       |  SELECT query_id, sub, pp,
       |         CAST(floor(qv[CAST(sub * $w + pp AS INTEGER)] * $scale) AS BIGINT) AS qx
       |  FROM q
       |  CROSS JOIN generate_series(0, ${m - 1}) AS sg(sub)
       |  CROSS JOIN generate_series(1, $w) AS g(pp)
       |), psc AS (
       |  SELECT query_id, sub, code, SUM(qx * mc) AS sjc
       |  FROM pqi JOIN pcm USING (sub, pp)
       |  GROUP BY query_id, sub, code
       |)""".stripMargin
  }

  /** Shared ADC→re-rank oracle tail: rank `adc` (query_id,
    * neighbor_id, adc), cut at `rerankSql` (a literal for the pinned
    * PQ baselines, `(SELECT rk FROM ap)` for the auto-scaled IVFADC
    * family), exact-cosine re-rank to k. The rsim CTE keeps the
    * re-rank window's sort input narrow (ids + integer key, not the
    * two dim-double arrays — the q134/sf10 OOM lesson). The topr cut
    * happens in two steps: a CONSTANT `r <= 1024` first (1024 =
    * autoAdcRerank's cap, so always a superset of the real cut) —
    * DuckDB's streaming top-N-through-window optimization only fires
    * on constant comparands, and without it the window SORTS the full
    * candidate stream (~350 M rows / >70 GB of spill at sf10); the
    * adaptive `rerankSql` filter then runs on ≤ 1024·|Q| rows.
    */
  private def adcRerankSql(rerankSql: String, k: Int): String =
    s"""topr AS (
       |  SELECT query_id, neighbor_id, r FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc DESC, neighbor_id) AS r
       |    FROM adc)
       |  WHERE r <= 1024
       |), rsim AS (
       |  SELECT t.query_id, t.neighbor_id,
       |         floor(list_cosine_similarity(q.qv, c.cv) * 1000000) AS simk
       |  FROM topr t
       |  JOIN q ON t.query_id = q.query_id
       |  JOIN c ON t.neighbor_id = c.neighbor_id
       |  WHERE t.r <= $rerankSql
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY simk DESC, neighbor_id) AS rank
       |  FROM rsim
       |)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** q174: PQ/ADC emulation. GENERATED from the same
    * `Similarity.pqBlocks` the operator uses, so sub-vector layout,
    * sign codes, integer codebooks (floor-scaled sums, positive-
    * remainder floor division), the per-query lookup table, ADC
    * ranking (ties on neighbor_id), the rerank-boundary cut, and the
    * 1e-6-grid cosine re-rank cannot drift between engine and oracle.
    * All products live in BIGINT (|qx·mc| ≤ 10⁸, summed over ≤ 64
    * positions); DuckDB's SUM widens to HUGEINT harmlessly.
    */
  private lazy val pqAdcOracle: String =
    pqAdcOracleSql(dim = 64, m = 8, rerank = 64, k = 5)

  // The ADC score as a dense per-query LUT ARRAY indexed per row — the
  // SQL mirror of the engine's ScatterLut/AdcLookupSum kernel: the
  // (sub, code)-keyed join + |Q|·n-group SUM materializes |pairs|·m
  // rows through a giant hash aggregate (~140 GB of agg/spill state at
  // sf10, exhausting RAM + disk — the same cliff the engine's kernel
  // avoids). Here each query folds its
  // per-(sub, code) sjc into one m·2^w array, each neighbor its m
  // codes into one array, and the score is m in-row lookups — the only
  // large relation is the narrow (query_id, neighbor_id, adc) stream.
  // Semantics identical: every neighbor code exists in the codebook by
  // construction, so the join matched all m subs; COALESCE(0) only
  // fills grid cells no neighbor can hit.
  private def pqAdcOracleSql(dim: Int, m: Int, rerank: Int, k: Int): String = {
    val w = dim / m
    val cCount = 1L << w
    val adcSum = (0 until m).map(s =>
      s"lt[${s * cCount} + cds[${s + 1}] + 1]").mkString("\n       + ")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id % 50 = 0
       |), c AS (
       |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
       |), ${pqCtes(dim, m)}, lutd AS (
       |  SELECT q.query_id, sg.sub, cg.code, COALESCE(psc.sjc, 0) AS sjc
       |  FROM q
       |  CROSS JOIN generate_series(0, ${m - 1}) AS sg(sub)
       |  CROSS JOIN generate_series(0, ${cCount - 1}) AS cg(code)
       |  LEFT JOIN psc ON psc.query_id = q.query_id
       |              AND psc.sub = sg.sub AND psc.code = cg.code
       |), lut AS (
       |  SELECT query_id, list(sjc ORDER BY sub * $cCount + code) AS lt
       |  FROM lutd GROUP BY query_id
       |), ncodes AS (
       |  SELECT neighbor_id, list(code ORDER BY sub) AS cds
       |  FROM pcodes GROUP BY neighbor_id
       |), adc AS (
       |  SELECT lut.query_id, ncodes.neighbor_id,
       |         $adcSum AS adc
       |  FROM lut CROSS JOIN ncodes
       |  WHERE lut.query_id <> ncodes.neighbor_id
       |), ${adcRerankSql(rerank.toString, k)}""".stripMargin
  }

  /** The residual-PQ arithmetic as a reusable CTE chain (rres →
    * rcodes → rcb → rcm → rsc), referencing the probe chain's cl/cm/qi
    * CTEs. Shared by q175 (IVFADC) and q177 (calibration sweep) so the
    * residual codebook arithmetic cannot drift between them.
    */
  private def residualPqCtes(dim: Int, m: Int): String = {
    val w = dim / m
    val scale = Similarity.centroidScale
    s"""rres AS (
       |  SELECT cl.neighbor_id, cl.list_id, g.pos,
       |         CAST(floor(cl.cv[CAST(g.pos AS INTEGER)] * $scale) AS BIGINT)
       |           - COALESCE(cm.m, 0) AS rx
       |  FROM cl CROSS JOIN generate_series(1, $dim) AS g(pos)
       |  LEFT JOIN cm ON cm.list_id = cl.list_id AND cm.pos = g.pos
       |), rcodes AS (
       |  SELECT neighbor_id, list_id, CAST((pos - 1) // $w AS INTEGER) AS sub,
       |         SUM(CASE WHEN rx > 0
       |             THEN (CAST(1 AS BIGINT) << CAST((pos - 1) % $w AS INTEGER))
       |             ELSE 0 END) AS code
       |  FROM rres GROUP BY 1, 2, 3
       |), rcb AS (
       |  SELECT rc.sub, rc.code, CAST((rr.pos - 1) % $w AS INTEGER) + 1 AS pp,
       |         SUM(rr.rx) AS s, COUNT(*) AS cnt
       |  FROM rres rr
       |  JOIN rcodes rc ON rc.neighbor_id = rr.neighbor_id
       |   AND rc.sub = CAST((rr.pos - 1) // $w AS INTEGER)
       |  GROUP BY 1, 2, 3
       |), rcm AS (
       |  SELECT sub, code, pp, (s - ((s % cnt) + cnt) % cnt) // cnt AS mc FROM rcb
       |), rsc AS (
       |  SELECT qi.query_id, rcm.sub, rcm.code, SUM(qi.qx * rcm.mc) AS sjc
       |  FROM qi JOIN rcm ON rcm.sub = CAST((qi.pos - 1) // $w AS INTEGER)
       |                  AND rcm.pp = CAST((qi.pos - 1) % $w AS INTEGER) + 1
       |  GROUP BY 1, 2, 3
       |)""".stripMargin
  }

  /** The residual-ADC LUT pair (rlut + rncodes CTEs, in-row sum expr)
    * — the dense-array scoring shared by the IVFADC oracle and the
    * calibration sweep, same rationale as [[pqAdcOracleSql]]'s LUT:
    * the (sub, code) join + candidate-grouped SUM is the memory cliff
    * at sf10; m in-row array lookups per candidate are not.
    */
  private def residualAdcLut(dim: Int, m: Int): (String, String) = {
    val w = dim / m
    val cCount = 1L << w
    val ctes =
      s"""rlutd AS (
         |  SELECT q.query_id, sg.sub, cg.code, COALESCE(rsc.sjc, 0) AS sjc
         |  FROM q
         |  CROSS JOIN generate_series(0, ${m - 1}) AS sg(sub)
         |  CROSS JOIN generate_series(0, ${cCount - 1}) AS cg(code)
         |  LEFT JOIN rsc ON rsc.query_id = q.query_id
         |              AND rsc.sub = sg.sub AND rsc.code = cg.code
         |), rlut AS (
         |  SELECT query_id, list(sjc ORDER BY sub * $cCount + code) AS rlt
         |  FROM rlutd GROUP BY query_id
         |), rncodes AS (
         |  SELECT neighbor_id, list(code ORDER BY sub) AS rcds
         |  FROM rcodes GROUP BY neighbor_id
         |)""".stripMargin
    val sumExpr = (0 until m).map(s =>
      s"rlt[CAST(${s * cCount} + rcds[${s + 1}] + 1 AS BIGINT)]").mkString("\n       + ")
    (ctes, sumExpr)
  }

  /** q175: residual-encoded IVFADC (canonical FAISS composition).
    * The q44 probe CTEs select the candidate lists; corpus vectors are
    * PQ-coded as integer RESIDUALS against their own list centroid
    * (`cm` — the UNFILTERED per-(list, pos) centroid the probe chain
    * already computes); the ADC score decomposes the inner product as
    * exact-list-constant + quantized-residual: ⟨q, c_L⟩ (the `lc` CTE,
    * exact integer dot) + Σⱼ⟨q_j, r̂_code_j⟩ (residual-codebook
    * lookups). Every piece reuses the probe chain's own CTEs, so the
    * composition cannot drift from its parents; all arithmetic is
    * integer-exact (|rx| ≤ 2·10⁴, products ≤ 4·10⁸, sums ≤ 2·10¹⁰ —
    * BIGINT everywhere, HUGEINT only inside DuckDB SUMs).
    */
  private def ivfAdcOracleSql(
      dim: Int, m: Int, k: Int,
      centroidWhere: String = ""): String = {
    val (rlutCtes, rSum) = residualAdcLut(dim, m)
    s"""WITH ${signIvfProbeCtes(dim, permille = 438, centroidWhere)}, ${residualPqCtes(dim, m)}, $rlutCtes, lc AS (
       |  SELECT probe.query_id, probe.list_id, SUM(qi.qx * cm.m) AS lc
       |  FROM probe
       |  JOIN qi ON qi.query_id = probe.query_id
       |  JOIN cm ON cm.list_id = probe.list_id AND cm.pos = qi.pos
       |  GROUP BY 1, 2
       |), cand AS (
       |  SELECT probe.query_id, cl.neighbor_id, cl.list_id
       |  FROM probe JOIN cl USING (list_id)
       |  WHERE probe.query_id <> cl.neighbor_id
       |), adcr AS (
       |  SELECT cand.query_id, cand.neighbor_id, cand.list_id,
       |         $rSum AS rs
       |  FROM cand
       |  JOIN rlut ON rlut.query_id = cand.query_id
       |  JOIN rncodes ON rncodes.neighbor_id = cand.neighbor_id
       |), adc AS (
       |  SELECT adcr.query_id, adcr.neighbor_id, adcr.rs + lc.lc AS adc
       |  FROM adcr JOIN lc ON lc.query_id = adcr.query_id AND lc.list_id = adcr.list_id
       |), ${adcRerankSql("(SELECT rk FROM ap)", k)}""".stripMargin
  }

  /** q180: the frozen-quantizer servability audit, recomputed from the
    * corpus. Bucket arithmetic and centroid t2 test are GENERATED from
    * the same `Similarity.quantDims`/`centroidScale` the operator
    * uses; `baseWhere` is the build-subset predicate (q179's split).
    */
  private def ivfAdcServabilityOracleSql(
      dim: Int, baseWhere: String): String = {
    val scale = Similarity.centroidScale
    val bucket = adaptiveBucket("cv", dim)
    s"""WITH $annParamsCte, c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
       |), cl AS (
       |  SELECT vec_id,
       |         $bucket AS list_id,
       |         ($baseWhere) AS is_base
       |  FROM c
       |), counts AS (
       |  SELECT list_id,
       |         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS built_rows,
       |         CAST(SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS appended_rows
       |  FROM cl GROUP BY list_id
       |), cs AS (
       |  SELECT cl.list_id, pos,
       |         SUM(CAST(floor(c.cv[CAST(pos AS INTEGER)] * $scale) AS BIGINT)) AS s,
       |         COUNT(*) AS cnt
       |  FROM cl JOIN c USING (vec_id)
       |  CROSS JOIN generate_series(1, $dim) AS g(pos)
       |  WHERE cl.is_base
       |  GROUP BY 1, 2
       |), cm AS (
       |  SELECT list_id, pos, (s - ((s % cnt) + cnt) % cnt) // cnt AS m FROM cs
       |), ct AS (
       |  SELECT list_id FROM cm GROUP BY list_id HAVING SUM(m * m) > 0
       |)
       |SELECT counts.list_id, built_rows, appended_rows,
       |       (ct.list_id IS NOT NULL) AS servable
       |FROM counts LEFT JOIN ct ON counts.list_id = ct.list_id
       |ORDER BY counts.list_id""".stripMargin
  }

  /** q183: the blocked decontamination screen recomputed with the same
    * sign-bucket arithmetic (generated from `Similarity.quantDims`, so
    * engine and oracle cannot drift) — the approximate result is
    * value-checked exactly, q31/q44-style.
    */
  private def decontaminateBlockedOracleSql(
      dim: Int, thresholdE6: Long): String = {
    def bucket(v: String) = adaptiveBucket(v, dim)
    s"""WITH $annParamsCte, bl AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS bv,
       |         ${bucket("CAST(embedding AS DOUBLE[])")} AS list_id
       |  FROM embeddings WHERE vec_id % 37 = 0
       |), tr AS (
       |  SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS tv
       |  FROM embeddings WHERE vec_id % 37 <> 0
       |  UNION ALL
       |  SELECT -vec_id - 1, CAST(embedding AS DOUBLE[])
       |  FROM embeddings WHERE vec_id % 37 = 0
       |), tl AS (
       |  SELECT train_id, tv, ${bucket("tv")} AS list_id FROM tr
       |)
       |SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches
       |FROM tl JOIN bl USING (list_id)
       |WHERE floor(list_cosine_similarity(tv, bv) * 1000000) >= $thresholdE6
       |GROUP BY train_id
       |ORDER BY train_id""".stripMargin
  }

  /** q177: the recall-vs-nProbe calibration sweep. One probe chain at
    * the WIDEST grid budget (its `pr` CTE carries the cut-free
    * `nbetter` rank) plus one residual-PQ chain serve every grid
    * point; each point is a filter + window. Ground truth is q29's
    * brute-force ranking. Everything integer: hits and n_pairs are
    * counts, so the whole curve hashes exactly.
    *
    * ADC scoring here uses the SPARSE (sub, code)-keyed join
    * (cand × rcodes × rsc, |cand|·m rows), NOT the dense rlut list of
    * [[residualAdcLut]]: this generator's |Q| is bounded by design
    * (q199 samples 24 queries; q177 runs only at gated scales), so
    * |cand|·m stays ~17 M at sf10 — while DuckDB's plan for the dense
    * list joined into the candidate stream under the sampled TOP_N
    * query set degraded to a cross product that materialized the
    * 16 KB per-query LUT per candidate row: >77 GB of spill at sf10.
    * The dense LUT remains the right shape
    * for the big-|Q| family oracles (q174/q175/q178/q179/q181), where
    * |cand|·m is ~2.8 B and the sparse join is the thing that dies.
    */
  private[graft] def recallCalibrationOracleSql(
      dim: Int, gridPermilles: Seq[Int], m: Int, k: Int,
      queryLimit: Option[Int] = None): String = {
    require(gridPermilles.nonEmpty && gridPermilles.forall(annPermilles.contains),
      s"recallCalibrationOracleSql: gridPermilles ${gridPermilles.mkString(",")} " +
        s"must all have np_ columns in annParamsCte (emitted set: " +
        s"${annPermilles.mkString(",")})")
    // grid points are probe FRACTIONS (permille of the list count) —
    // the denomination the engine sweeps (probeBudget(bits, p)); the
    // absolute probe counts come from the adaptive `ap` CTE so the
    // sweep's x-axis scales with the quantizer exactly as the engine's
    val maxP = gridPermilles.max
    val pointCtes = gridPermilles.map { p =>
      s"""s_p$p AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY ck DESC, neighbor_id) AS rank
         |    FROM cand WHERE nbetter < (SELECT np_$p FROM ap))
         |  WHERE rank <= $k
         |), asurv_p$p AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY adc DESC, neighbor_id) AS r
         |    FROM adca WHERE nbetter < (SELECT np_$p FROM ap))
         |  WHERE r <= (SELECT rk FROM ap)
         |), atop_p$p AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.query_id, a.neighbor_id,
         |           row_number() OVER (PARTITION BY a.query_id
         |             ORDER BY cand.ck DESC, a.neighbor_id) AS rank
         |    FROM asurv_p$p a
         |    JOIN cand ON cand.query_id = a.query_id
         |             AND cand.neighbor_id = a.neighbor_id)
         |  WHERE rank <= $k
         |)""".stripMargin
    }.mkString(", ")
    val pointRows = gridPermilles.flatMap { p =>
      Seq(
        s"""SELECT 'sign_ivf' AS family, CAST((SELECT np_$p FROM ap) AS INTEGER) AS n_probe,
           |  (SELECT COUNT(*) FROM s_p$p JOIN truth USING (query_id, neighbor_id)) AS hits,
           |  (SELECT n_pairs FROM npairs) AS n_pairs""".stripMargin,
        s"""SELECT 'ivfadc' AS family, CAST((SELECT np_$p FROM ap) AS INTEGER) AS n_probe,
           |  (SELECT COUNT(*) FROM atop_p$p JOIN truth USING (query_id, neighbor_id)) AS hits,
           |  (SELECT n_pairs FROM npairs) AS n_pairs""".stripMargin)
    }.mkString("\nUNION ALL\n")
    s"""WITH ${signIvfProbeCtes(dim, permille = maxP, queryLimit = queryLimit)}, ${residualPqCtes(dim, m)}, tsim AS (
       |  SELECT query_id, neighbor_id,
       |         floor(list_cosine_similarity(qv, cv) * 1000000) AS simk
       |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
       |), truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY simk DESC, neighbor_id) AS rank
       |    FROM tsim)
       |  WHERE rank <= $k
       |), npairs AS (
       |  SELECT COUNT(*) AS n_pairs FROM truth
       |), cand AS (
       |  SELECT pr.query_id, cl.neighbor_id, cl.list_id, pr.nbetter,
       |         floor(list_cosine_similarity(q.qv, cl.cv) * 1000000) AS ck
       |  FROM pr
       |  JOIN q ON q.query_id = pr.query_id
       |  JOIN cl ON cl.list_id = pr.list_id
       |  WHERE pr.nbetter < (SELECT np_$maxP FROM ap) AND pr.query_id <> cl.neighbor_id
       |), lc AS (
       |  SELECT pr.query_id, pr.list_id, SUM(qi.qx * cm.m) AS lc
       |  FROM pr
       |  JOIN qi ON qi.query_id = pr.query_id
       |  JOIN cm ON cm.list_id = pr.list_id AND cm.pos = qi.pos
       |  WHERE pr.nbetter < (SELECT np_$maxP FROM ap)
       |  GROUP BY 1, 2
       |), adcr AS (
       |  SELECT cand.query_id, cand.neighbor_id, cand.list_id, cand.nbetter,
       |         CAST(SUM(COALESCE(rsc.sjc, 0)) AS BIGINT) AS rs
       |  FROM cand
       |  JOIN rcodes rc ON rc.neighbor_id = cand.neighbor_id
       |  LEFT JOIN rsc ON rsc.query_id = cand.query_id
       |              AND rsc.sub = rc.sub AND rsc.code = rc.code
       |  GROUP BY 1, 2, 3, 4
       |), adca AS (
       |  SELECT adcr.query_id, adcr.neighbor_id, adcr.nbetter, adcr.rs + lc.lc AS adc
       |  FROM adcr JOIN lc ON lc.query_id = adcr.query_id AND lc.list_id = adcr.list_id
       |), $pointCtes
       |$pointRows
       |ORDER BY family, n_probe""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // similarity search: exact brute-force cosine top-k.
    Entry("q29_emb_cosine_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 50 === 0)
      Similarity.bruteForceTopK(queries, e, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // cosine ranks compare exactly: both sides accumulate dot/norms in
      // double over the same float values (Kernels.cosineF vs DuckDB
      // list_cosine_similarity on DOUBLE[]), and only the rank order —
      // not the float itself — reaches the hash. Ties break on
      // neighbor_id on both sides.
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0
        |), c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        |), bsim AS (
        |  SELECT query_id, neighbor_id,
        |         floor(list_cosine_similarity(qv, cv) * 1000000) AS simk
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY simk DESC, neighbor_id) AS rank
        |  FROM bsim
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // kNN majority-label classification.
    Entry("q30_emb_knn_label", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 50 === 0)
      Similarity.knnLabel(queries, e, k = 5)
        .orderBy(col("query_id"))
    },
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0
        |), c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        |), bsim AS (
        |  SELECT query_id, neighbor_id,
        |         floor(list_cosine_similarity(qv, cv) * 1000000) AS simk
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |), topk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY simk DESC, neighbor_id) AS rank
        |    FROM bsim) t
        |  WHERE rank <= 5
        |), votes AS (
        |  SELECT t.query_id, e.label AS nlabel, COUNT(*) AS votes
        |  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, nlabel AS predicted_label, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nlabel) AS rn
        |  FROM votes) v
        |WHERE rn = 1 ORDER BY query_id""".stripMargin),

    // approximate ANN via sign-bit LSH (8 tables × 4 axis planes) —
    // the oracle-portable variant: bucket membership is pure sign
    // tests on stored floats, so the DuckDB oracle reproduces the
    // exact candidate sets and the full ranked result is value-checked.
    Entry("q31_emb_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 50 === 0)
      // regime-dispatched: inside the LSH regime
      // this is the joint autoLshPlan — (4, 8) at every gated
      // scale, the regime the oracle's pinned SQL encodes, planes then
      // growing at quarter rate with tables compensating inside the
      // dim wall. Past lshRegimeMax (~10⁵ at 64 dims, where the 100×
      // sweep measured the best LSH plan at 1,055 s vs sign-IVF's
      // 16 ms/query) annTopK routes to the sign-IVF path — the cliff a
      // scaladoc pointer alone let callers walk into
      Similarity.annTopK(queries, e, k = 5, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      // q31/q44/q72: the approximate result IS value-checked — candidate
      // generation is pure sign tests + BIGINT arithmetic (see
      // Similarity.signLshTopK / signIvfTopK), so the oracle reproduces
      // the identical candidate sets and the exact-cosine ranking is the
      // same q29-proven list_cosine_similarity comparison.
      // q31 is regime-dispatched on the ENGINE side (annTopK): inside
      // the LSH regime (n <= 1600*dim = 102 400) it runs the pinned
      // (4 planes x 8 tables) axis-LSH plan; past it, sign-IVF at the
      // adaptive budgets. The oracle mirrors BOTH legs, switched on the
      // same corpus count (the ap CTE): the LSH leg is guarded to the
      // n <= 2 000 band where autoLshPlan still returns the pinned
      // (4, 8) — at n = 2 001 tables grows to 9 (buckets > 16 at
      // targetOccupancy 125), so in the 2k..102.4k band (no oracle
      // gate runs there: sf0.1 is exactly n = 2 000, sf10 is 200 000)
      // it raises loudly rather than encoding a stale plan whose
      // candidate pool is silently smaller than the engine's. Windows
      // sort narrow (ids + integer key) on both legs.
      s"""WITH ${signIvfProbeCtes(dim = 64, permille = 375)}, qb AS (
         |  SELECT query_id, t AS tbl,
         |         CASE WHEN (SELECT n FROM ap) > 2000
         |           THEN CAST('q31 oracle: autoLshPlan grows past the pinned 4x8 at n=2001 (tables 9+); sign-IVF leg starts at n=102401' AS INTEGER)
         |           ELSE
         |         (CASE WHEN qv[t*4+1] > 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN qv[t*4+2] > 0 THEN 2 ELSE 0 END)
         |       + (CASE WHEN qv[t*4+3] > 0 THEN 4 ELSE 0 END)
         |       + (CASE WHEN qv[t*4+4] > 0 THEN 8 ELSE 0 END) END AS bucket
         |  FROM q CROSS JOIN generate_series(0, 7) AS ts(t)
         |  WHERE (SELECT n FROM ap) <= 102400
         |), cb AS (
         |  SELECT neighbor_id, t AS tbl,
         |         CASE WHEN (SELECT n FROM ap) > 2000
         |           THEN CAST('q31 oracle: autoLshPlan grows past the pinned 4x8 at n=2001 (tables 9+); sign-IVF leg starts at n=102401' AS INTEGER)
         |           ELSE
         |         (CASE WHEN cv[t*4+1] > 0 THEN 1 ELSE 0 END)
         |       + (CASE WHEN cv[t*4+2] > 0 THEN 2 ELSE 0 END)
         |       + (CASE WHEN cv[t*4+3] > 0 THEN 4 ELSE 0 END)
         |       + (CASE WHEN cv[t*4+4] > 0 THEN 8 ELSE 0 END) END AS bucket
         |  FROM c CROSS JOIN generate_series(0, 7) AS ts(t)
         |  WHERE (SELECT n FROM ap) <= 102400
         |), lcand AS (
         |  SELECT DISTINCT query_id, neighbor_id
         |  FROM qb JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
         |  WHERE query_id <> neighbor_id
         |), lsim AS (
         |  SELECT lcand.query_id, lcand.neighbor_id,
         |         floor(list_cosine_similarity(q.qv, c.cv) * 1000000) AS simk
         |  FROM lcand JOIN q ON q.query_id = lcand.query_id
         |             JOIN c ON c.neighbor_id = lcand.neighbor_id
         |), lranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY simk DESC, neighbor_id) AS rank
         |  FROM lsim
         |), isim AS (
         |  SELECT probe.query_id, cl.neighbor_id,
         |         floor(list_cosine_similarity(q.qv, cl.cv) * 1000000) AS simk
         |  FROM probe
         |  JOIN q ON probe.query_id = q.query_id
         |  JOIN cl USING (list_id)
         |  WHERE probe.query_id <> cl.neighbor_id
         |    AND (SELECT n FROM ap) > 102400
         |), iranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY simk DESC, neighbor_id) AS rank
         |  FROM isim
         |)
         |SELECT query_id, neighbor_id, rank FROM lranked WHERE rank <= 5
         |UNION ALL
         |SELECT query_id, neighbor_id, rank FROM iranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // embedding-cosine near-dup dedup: hyperplane-LSH candidates,
    // exact cosine ≥ 0.95 (dups forced by re-keyed copies).
    // ORACLE-CHECKED: planted identical-vector copies MUST pair
    // with their source — an identical vector lands in the same
    // hyperplane bucket of every table (identical sign tests) and its
    // exact-cosine verify is 1 up to a few ulp, far above 0.95 — so
    // the oracle states the full planted set. Natural near-dup pairs
    // (cosine doubles near the threshold, banding-recall-dependent)
    // are excluded by the keying filter and stay spec-gated.
    Entry("q37_emb_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val off = plantOffset(e, "vec_id") // collision-free at any scale
      val dupes = e.filter(col("vec_id") % 40 === 0)
        .withColumn("vec_id", col("vec_id") + off)
      Similarity.embeddingNearDupPairs(e.unionByName(dupes), threshold = 0.95, dim = 64)
        .filter(col("id_a") % 40 === 0 && col("id_b") === col("id_a") + off)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"))
    },
      // q37: identical-vector plants land in identical LSH buckets and
      // verify at cosine ≈ 1 ≫ 0.95, so the planted set is exact.
      """SELECT vec_id AS id_a, vec_id + (SELECT (max(vec_id) // 1000000 + 1) * 1000000 FROM embeddings) AS id_b
        |FROM embeddings WHERE vec_id % 40 = 0
        |ORDER BY id_a""".stripMargin),

    // embedding near-dup resolution: LSH-bucketed candidate pairs →
    // exact-cosine verify → connected components → keep list.
    // ORACLE-CHECKED: the cluster structure is provably exactly
    // the planted copies — the maximum NATURAL pairwise cosine in the
    // embeddings table is 0.60 at sf0.1 (0.51 at sf0.01, 0.48 at
    // sf0.001; measured exhaustively) vs the 0.95 gate, so no natural
    // pair can merge on any engine, and a planted identical copy
    // always pairs with its source (identical sign tests → same bucket
    // in every hyperplane table, exact cosine 1 — q37's argument). The
    // oracle therefore states the keep list from first principles:
    // every vector keeps itself, %25 == 0 sources absorb their copy.
    Entry("q60_emb_neardup_resolve", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val copies = e.filter(col("vec_id") % 25 === 0)
        .withColumn("vec_id", col("vec_id") + plantOffset(e, "vec_id"))
      Similarity.resolveEmbeddingNearDups(e.unionByName(copies),
          threshold = 0.95, dim = 64)
        .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
        .orderBy(col("keep_id"))
    },
      // q60: the embedding resolution keep list from first principles —
      // max natural pairwise cosine is 0.60 at sf0.1 (exhaustively
      // measured, vs the 0.95 gate) so the only clusters are the planted
      // identical copies, which pair with probability 1 (q37's argument).
      """SELECT vec_id AS keep_id,
        |       CAST(CASE WHEN vec_id % 25 = 0 THEN 2 ELSE 1 END AS BIGINT) AS cluster_size
        |FROM embeddings ORDER BY keep_id""".stripMargin),

    // IVF serving path: build the PERSISTED index (inverted lists
    // partitioned by list_id), then query it — probed lists reach the
    // scan as partition filters, so per-query I/O is nProbe/nLists of
    // the corpus at any scale. Sign-quantizer variant at the same
    // params as q44, so index-serving ≡ in-flight is itself
    // value-checked by the shared oracle.
    Entry("q72_emb_ann_ivf_index", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 50 === 0)
      val path = scratchDir("graft_ivf_idx")
      val (bits, _) = ivfParams(e)
      Similarity.buildSignIvfIndex(e, path, dim = 64, bits = bits)
      // fraction-denominated probe budget: 375 ‰ of the
      // lists = the pinned 48-of-128 at every gated scale, and the
      // probed FRACTION stays flat as autoQuantBits grows the lists —
      // a fixed count decayed recall to 0.70 at the 100× point
      Similarity.querySignIvfIndex(s, path, queries, k = 5, dim = 64, bits = bits,
        nProbe = Similarity.probeBudget(bits))
        .orderBy(col("query_id"), col("rank"))
    }, signIvfOracle),

    // int8 embedding quantization: per-vector integer summaries of the
    // symmetric-quantized codes. Division-free (one multiply + floor
    // per component), so the codes — and these sums — are exact on any
    // engine. Shape: posexplode + scalar quantize (codegen'd, each
    // component quantized ONCE) + partial-agg shuffle on vec_id — the
    // q65 pattern; the array-HOF form would re-run the interpreted
    // transform per referencing aggregate.
    Entry("q74_emb_quantize_int8", (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"),
          VectorFunctions.quantizeInt8Component(col("x")).cast("long").as("q"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_dims"), sum(col("q")).as("sum_q8"),
          min(col("q")).as("min_q8"), max(col("q")).as("max_q8"))
        .orderBy(col("vec_id"))
    },
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |), q AS (
        |  SELECT vec_id, qv,
        |         list_transform(qv,
        |           x -> GREATEST(-128, LEAST(127, floor(x * 127)))) AS codes
        |  FROM v
        |)
        |SELECT vec_id, CAST(len(qv) AS BIGINT) AS n_dims,
        |       CAST(list_sum(codes) AS BIGINT) AS sum_q8,
        |       CAST(list_aggregate(codes, 'min') AS BIGINT) AS min_q8,
        |       CAST(list_aggregate(codes, 'max') AS BIGINT) AS max_q8
        |FROM q ORDER BY vec_id""".stripMargin),

    // signed random projection: integer ±1-hyperplane signatures of
    // int8-quantized embeddings — exact BIGINTs, so unlike the
    // float-dot LSH (q31) the full projection path is value-checked.
    Entry("q91_emb_signed_projection", (s, dir) => {
      Sketches.signedProjection(t(s, dir, "embeddings"), "vec_id",
          "embedding", nPlanes = 8)
        .orderBy(col("vec_id"), col("plane"))
    },
      """WITH q AS (
        |  SELECT vec_id, i - 1 AS pos,
        |         CAST(GREATEST(-128, LEAST(127,
        |           floor(CAST(embedding[i] AS DOUBLE) * 127))) AS BIGINT) AS qc
        |  FROM (SELECT vec_id, embedding,
        |               unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)
        |)
        |SELECT vec_id, plane,
        |       CAST(SUM(qc * CASE WHEN ((pos * 8 + plane) * 2654435761 // 65536) % 2 = 0
        |                          THEN 1 ELSE -1 END) AS BIGINT) AS proj
        |FROM q, (SELECT unnest(range(0, 8)) AS plane)
        |GROUP BY vec_id, plane ORDER BY vec_id, plane""".stripMargin),

    // per-class embedding centroids, quantized at 1e-6 so the mean is
    // exact-integer arithmetic on both engines (double sums of floats
    // are order-dependent; floor-quantized sums are not).
    Entry("q65_emb_class_centroids", (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos"),
          floor(col("x").cast("double") * 1000000).cast("long").as("xq"))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("xq")).cast("double") / count(lit(1))).as("centroid_e6"))
        .orderBy(col("label"), col("pos"))
    },
      """WITH e AS (
        |  SELECT label, i - 1 AS pos,
        |         CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS xq
        |  FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i FROM embeddings)
        |)
        |SELECT label, pos, CAST(SUM(xq) AS DOUBLE) / COUNT(*) AS centroid_e6
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // IVF approximate nearest neighbor, sign-pattern coarse quantizer
    // (128 lists at every gated scale, 37.5% of them probed) —
    // candidate selection is all sign tests + BIGINT arithmetic, so
    // the oracle value-checks the full approximate result.
    Entry("q44_emb_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 50 === 0)
      val (bits, _) = ivfParams(e)
      // fraction-denominated probe budget: 375 ‰ of the
      // lists = the pinned 48-of-128 at every gated scale; holds the
      // probed fraction as autoQuantBits grows the list count
      Similarity.signIvfTopK(queries, e, k = 5, dim = 64, bits = bits,
          nProbe = Similarity.probeBudget(bits))
        .orderBy(col("query_id"), col("rank"))
    }, signIvfOracle),

    // incremental ANN index maintenance: build the sign-IVF index on
    // two thirds of the corpus, APPEND the rest batch-wise (structural
    // quantizer → assignment never drifts, lists only gain files),
    // then serve. Oracle = the one-shot full-corpus sign-IVF oracle:
    // maintenance must be invisible to queries.
    Entry("q134_emb_ann_ivf_append", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = scratchDir("graft_ivf_app")
      val (bits, _) = ivfParams(e)
      Similarity.buildSignIvfIndex(e.filter(col("vec_id") % 3 =!= 0), path,
        dim = 64, bits = bits)
      Similarity.appendSignIvfIndex(e.filter(col("vec_id") % 3 === 0), path,
        batchId = "b1", dim = 64, bits = bits)
      val queries = e.filter(col("vec_id") % 50 === 0)
      Similarity.querySignIvfIndex(s, path, queries, k = 5, dim = 64,
          bits = bits, nProbe = Similarity.probeBudget(bits))
        .orderBy(col("query_id"), col("rank"))
    },
      // q134: build(two thirds) + append(rest) must serve exactly like
      // the one-shot full-corpus index.
      signIvfOracle),

    // product-quantization ANN with ADC scoring — the memory-bounded
    // serving path (codes + codebook lookups instead of stored floats;
    // FAISS's IVFADC distance half). Sign-pattern sub-quantizers keep
    // the whole pipeline integer-exact, so the oracle reproduces
    // codes, codebooks, lookup tables, the ADC ranking, AND the
    // re-rank — the PQ counterpart of the q44/q72/q134 sign-IVF gate.
    // Measured recall@5 vs brute force: 1.00/0.93/0.88 at
    // sf0.001/0.01/0.1 (rerank = 64 of 2000 corpus vectors at sf0.1).
    Entry("q174_emb_ann_pq_adc", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqAdcTopK(e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, m = 8, rerank = 64)
        .orderBy(col("query_id"), col("rank"))
    }, pqAdcOracle),

    // IVFADC, residual-encoded (the canonical FAISS composition):
    // centroid-probed lists cut the candidates sub-linearly, PQ/ADC
    // scores that cut in the compressed domain with corpus codes
    // trained on RESIDUALS against each list's centroid — the ADC
    // score is exact-⟨q, c_L⟩ plus quantized-residual lookups — and
    // exact cosine re-ranks the top 96. Oracle = the probe chain's own
    // CTEs extended with the residual codebook arithmetic. Residual
    // codes track the probe ceiling closely: recall@5 0.96/0.94/0.825
    // at sf0.001/0.01/0.1 vs sign-IVF's 0.835 at the same 56-list
    // budget.
    Entry("q175_emb_ann_ivfadc", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (bits, rerank) = ivfParams(e)
      // fraction-denominated probe budget: 438 ‰ of the
      // lists = the pinned 56-of-128 at every gated scale (437 ‰
      // floors to 55 — integer arithmetic); the probed fraction stays
      // flat as autoQuantBits grows the list count
      Similarity.ivfAdcTopK(e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, bits = bits,
          nProbe = Similarity.probeBudget(bits, 438), m = 8, rerank = rerank)
        .orderBy(col("query_id"), col("rank"))
    },
      ivfAdcOracleSql(dim = 64, m = 8, k = 5)),

    // PQ serving path: persist codes (8 bytes/vector) + codebook, serve
    // with floats fetched from the lake only for re-rank survivors.
    // Shares q174's oracle at identical parameters, so index-serving
    // ≡ in-flight is itself the oracle-checked assertion (the q44/q72
    // pattern applied to PQ).
    Entry("q176_emb_ann_pq_index", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = scratchDir("graft_pq_idx")
      Similarity.buildPqIndex(e, path, dim = 64, m = 8)
      Similarity.queryPqIndex(s, path, e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, m = 8, rerank = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      // q176 ≡ q174 at equal parameters by construction — one oracle
      // value-checks both, making the equivalence itself part of the gate
      pqAdcOracle),

    // Recall-vs-nProbe calibration: the tuning curve a
    // serving team reads to pick a probe budget — recall@5 of sign-IVF
    // and residual IVFADC at 8/24/56 probed lists, against brute-force
    // ground truth, as exact integer hits/n_pairs. One probe ranking +
    // one ADC pass serve all grid points (everything below the budget
    // cut is nProbe-independent), so the sweep costs ~one IVFADC run.
    Entry("q177_ann_recall_calibration", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (bits, rerank) = ivfParams(e)
      // fraction-denominated probe grid: 63/188/438 ‰
      // reproduce the pinned 8/24/56-of-128 at every gated scale and
      // keep each grid point a constant list FRACTION as autoQuantBits
      // grows the lists (8 of 512 is a different operating point than
      // 8 of 128; 6.25 % of the lists is the same one)
      Similarity.recallProbeCurve(e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, bits = bits,
          probeGrid = Seq(63, 188, 438).map(Similarity.probeBudget(bits, _)),
          m = 8, rerank = rerank)
        .orderBy(col("family"), col("n_probe"))
    },
      recallCalibrationOracleSql(dim = 64, gridPermilles = Seq(63, 188, 438),
        m = 8, k = 5)),

    // q199: the SAMPLED calibration sweep — q177's exact twin
    // with maxQueries = 24, the production tuning posture: ground
    // truth (the sweep's dominant cost, |Q|·n) runs over a fixed
    // hash-priority query sample, so calibration stays ~linear in n
    // as the corpus grows (pinned full truth took 657 s at sf10). The
    // sample priority is md5 of
    // the id string — the one hash both engines compute identically —
    // so the sampled sweep is value-checked end to end, not just the
    // full one. At sf ≤ 0.01 the 24-query bound exceeds |Q| and the
    // sample IS the full set (spec-pinned law); sf0.1's 40 queries
    // make it a genuine sample inside the correctness gate.
    Entry("q199_ann_recall_sampled", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (bits, rerank) = ivfParams(e)
      Similarity.recallProbeCurve(e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, bits = bits,
          probeGrid = Seq(63, 188, 438).map(Similarity.probeBudget(bits, _)),
          m = 8, rerank = rerank, maxQueries = Some(24))
        .orderBy(col("family"), col("n_probe"))
    },
      // q199 ≡ q177 restricted to the md5-priority 24-query sample —
      // same generator, one LIMIT: the sampled production-tuning path
      // is value-checked by the same arithmetic as the exact twin
      recallCalibrationOracleSql(dim = 64, gridPermilles = Seq(63, 188, 438),
        m = 8, k = 5, queryLimit = Some(24))),

    // Persisted IVFADC index: the full FAISS serving shape on
    // disk — centroids (probe table), residual codes partitioned by
    // list_id (the probe cut becomes partition pruning), residual
    // codebook; floats stay in the lake, fetched only for re-rank
    // survivors. Shares q175's oracle at identical parameters, so
    // index-serving ≡ in-flight is oracle-checked (the q72/q176
    // pattern applied to the composition).
    Entry("q178_emb_ann_ivfadc_index", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = scratchDir("graft_ivfadc_idx")
      val (bits, rerank) = ivfParams(e)
      Similarity.buildIvfAdcIndex(e, path, dim = 64, bits = bits, m = 8)
      Similarity.queryIvfAdcIndex(s, path, e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, bits = bits,
          nProbe = Similarity.probeBudget(bits, 438), m = 8, rerank = rerank)
        .orderBy(col("query_id"), col("rank"))
    },
      // q178 ≡ q175 at equal parameters by construction — one oracle
      // value-checks both, making the equivalence itself oracle-checked
      ivfAdcOracleSql(dim = 64, m = 8, k = 5)),

    // IVFADC incremental maintenance: build on two thirds, append
    // the rest against the FROZEN coarse quantizer (the FAISS
    // posture — centroids never retrain on append; codebook SUMS merge
    // associatively; new-list vectors encode against the zero centroid
    // and stay unprobeable until a rebuild, exactly like a frozen
    // k-means quantizer). Oracle = the q175 generator with the
    // centroid population restricted to the build subset, so the whole
    // frozen-quantizer serving arithmetic is value-checked; the
    // append-associativity invariant (append(B);append(C) ≡
    // append(B∪C)) is spec-pinned.
    Entry("q179_emb_ann_ivfadc_append", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = scratchDir("graft_ivfadc_app")
      val (bits, rerank) = ivfParams(e)
      Similarity.buildIvfAdcIndex(e.filter(col("vec_id") % 3 =!= 0), path,
        dim = 64, bits = bits, m = 8)
      Similarity.appendIvfAdcIndex(e.filter(col("vec_id") % 3 === 0), path,
        batchId = "b1", dim = 64, bits = bits, m = 8)
      Similarity.queryIvfAdcIndex(s, path, e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, bits = bits,
          nProbe = Similarity.probeBudget(bits, 438), m = 8, rerank = rerank)
        .orderBy(col("query_id"), col("rank"))
    },
      // q179: the SAME generator with the centroid population restricted
      // to the build subset — the frozen-coarse-quantizer serving
      // arithmetic (codes/codebook over everything, centroids from the
      // build two-thirds) value-checked end to end
      ivfAdcOracleSql(dim = 64, m = 8, k = 5,
        centroidWhere = "neighbor_id % 3 <> 0")),

    // Frozen-quantizer servability audit: q179's
    // build/append split, then the operational report a serving team
    // watches to decide when the retrain is due — per list: build-time
    // rows, appended rows, and whether the probe can reach the list at
    // all (a stored centroid with direction exists; appends into lists
    // the build never saw are unprobeable until rebuild). The audit
    // reads ONLY the index (codes partitions + the tiny centroids
    // table); the oracle recomputes the same report from the corpus
    // with the frozen-quantizer arithmetic — so index-on-disk ≡
    // corpus-derived is itself oracle-checked.
    Entry("q180_ann_ivfadc_servability", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = scratchDir("graft_ivfadc_aud")
      val (bits, _) = ivfParams(e)
      Similarity.buildIvfAdcIndex(e.filter(col("vec_id") % 3 =!= 0), path,
        dim = 64, bits = bits, m = 8)
      Similarity.appendIvfAdcIndex(e.filter(col("vec_id") % 3 === 0), path,
        batchId = "b1", dim = 64, bits = bits, m = 8)
      Similarity.ivfAdcServabilityAudit(s, path)
        .orderBy(col("list_id"))
    },
      // q180: the servability report recomputed from the corpus with the
      // frozen-quantizer arithmetic (build = vec_id % 3 <> 0, q179's
      // split) — index-on-disk ≡ corpus-derived is the checked claim
      ivfAdcServabilityOracleSql(dim = 64,
        baseWhere = "vec_id % 3 <> 0")),

    // Index compaction proven invisible: q179's build + append,
    // then compactIvfAdcIndex folds the per-append generations to one
    // file per list partition + one codebook shard, then serve. Shares
    // q179's oracle at identical parameters — the q129/q90 "the
    // optimization must be invisible" discipline applied to the whole
    // build/append/compact maintenance loop, oracle-checked.
    Entry("q181_ann_ivfadc_compacted", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = scratchDir("graft_ivfadc_cmp")
      val (bits, rerank) = ivfParams(e)
      Similarity.buildIvfAdcIndex(e.filter(col("vec_id") % 3 =!= 0), path,
        dim = 64, bits = bits, m = 8)
      Similarity.appendIvfAdcIndex(e.filter(col("vec_id") % 3 === 0), path,
        batchId = "b1", dim = 64, bits = bits, m = 8)
      Similarity.compactIvfAdcIndex(s, path, bits = bits)
      Similarity.queryIvfAdcIndex(s, path, e.filter(col("vec_id") % 50 === 0), e,
          k = 5, dim = 64, bits = bits,
          nProbe = Similarity.probeBudget(bits, 438), m = 8, rerank = rerank)
        .orderBy(col("query_id"), col("rank"))
    },
      // q181 ≡ q179 with compaction in between — one oracle checks both,
      // making compaction-invisibility itself oracle-checked
      ivfAdcOracleSql(dim = 64, m = 8, k = 5,
        centroidWhere = "neighbor_id % 3 <> 0")),

    // Semantic decontamination — the embedding twin of q67's
    // 13-gram screen, for the paraphrased leakage n-grams miss:
    // benchmark side broadcast, corpus scanned once, threshold on the
    // 1e-6 cosine grid. Train side carries planted byte-identical
    // copies of the benchmark rows (cosine ≈ 1 ≫ 0.95 on any engine),
    // so the flagged set is non-trivially populated at every scale;
    // the operator is exact brute force, so the oracle value-checks
    // the FULL result, plants and natural matches alike.
    Entry("q182_emb_decontaminate", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") % 37 === 0)
      // plants live on NEGATIVE ids: -id - 1 is disjoint
      // from the natural non-negative id space at any corpus size — a
      // fixed +600000 offset silently collided with real train ids
      // once a scaled corpus crossed 600 k
      val train = e.filter(col("vec_id") % 37 =!= 0)
        .unionByName(bench.withColumn("vec_id", -col("vec_id") - 1L))
      Similarity.semanticDecontaminate(train, bench, thresholdE6 = 950000L)
        .orderBy(col("train_id"))
    },
      // q182: exact brute-force screen, so the full flagged set is
      // value-checked (cosines stay internal — only threshold-crossing
      // counts are compared, stable far from the grid boundary)
      """WITH b AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS bv
        |  FROM embeddings WHERE vec_id % 37 = 0
        |), tr AS (
        |  SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS tv
        |  FROM embeddings WHERE vec_id % 37 <> 0
        |  UNION ALL
        |  SELECT -vec_id - 1, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 37 = 0
        |)
        |SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches
        |FROM tr CROSS JOIN b
        |WHERE floor(list_cosine_similarity(tv, bv) * 1000000) >= 950000
        |GROUP BY train_id
        |ORDER BY train_id""".stripMargin),

    // q182's scale path: benchmark sets too large to broadcast
    // join the corpus on the sign-quantizer list id instead — a
    // blocked similarity join, shuffle on list_id. Approximate by the
    // quantizer's nature, but candidate generation is pure sign tests,
    // so the oracle reproduces the approximate result EXACTLY (the
    // q31/q44 discipline); byte-identical plants always share a list.
    Entry("q183_emb_decontaminate_blocked", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") % 37 === 0)
      // plants on negative ids — see q182
      val train = e.filter(col("vec_id") % 37 =!= 0)
        .unionByName(bench.withColumn("vec_id", -col("vec_id") - 1L))
      Similarity.semanticDecontaminateBlocked(train, bench,
          thresholdE6 = 950000L, dim = 64,
          bits = ivfParams(e)._1)
        .orderBy(col("train_id"))
    },
      // q183: the same screen through the sign-bucket block join — the
      // approximate candidate cut is pure sign tests, reproduced exactly
      decontaminateBlockedOracleSql(dim = 64, thresholdE6 = 950000L)),

    // retrieval-ranking eval: reciprocal rank of the brute-force
    // true NN inside the sign-IVF top-10 — recall (q177) says whether
    // truth was retrieved, this says how far down it sat, the number
    // that decides a RAG serving cut. Ground truth is the documented
    // quadratic baseline over the query sample (the q177 posture:
    // sample queries at scale, corpus side stays indexed).
    Entry("q185_ann_retrieval_mrr", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // bounded eval set: past 4 096 queries the MRR measurement
      // hash-samples — identity at every gated scale AND at sf10
      // (|Q| = 4 000), so the standing digests are byte-stable; at
      // sf30+ this is what turns the eval's |Q|·n quadratic back into
      // cap·n (the sf30 probe measured 6.6× at 3× without it)
      val queries = Similarity.evalQuerySample(
        e.filter(col("vec_id") % 50 === 0))
      val (bits, _) = ivfParams(e)
      val ann = Similarity.signIvfTopK(queries, e, k = 10, dim = 64,
        bits = bits, nProbe = Similarity.probeBudget(bits))
      val truth = Similarity.bruteForceTopK(queries, e, k = 1)
      Similarity.retrievalMrr(ann, truth.select(col("query_id"), col("neighbor_id")))
        .orderBy(col("query_id"))
    },
      // q185: the sign-IVF ranked CTE at k=10 (same probe chain as q44's
      // oracle) joined against the brute-force true NN — per-query
      // integer reciprocal rank, the ranking-quality twin of q177.
      s"""WITH ${signIvfProbeCtes(dim = 64, permille = 375)}, simd AS (
         |  SELECT probe.query_id, cl.neighbor_id,
         |         floor(list_cosine_similarity(q.qv, cl.cv) * 1000000) AS simk
         |  FROM probe
         |  JOIN q ON probe.query_id = q.query_id
         |  JOIN cl USING (list_id)
         |  WHERE probe.query_id <> cl.neighbor_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY simk DESC, neighbor_id) AS rank
         |  FROM simd
         |), ann AS (
         |  SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
         |), bsim AS (
         |  SELECT q.query_id, c.neighbor_id,
         |         floor(list_cosine_similarity(q.qv, c.cv) * 1000000) AS simk
         |  FROM q CROSS JOIN c
         |  WHERE q.query_id <> c.neighbor_id
         |), bf AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY simk DESC, neighbor_id) AS tr
         |  FROM bsim
         |), truth AS (
         |  SELECT query_id, neighbor_id FROM bf WHERE tr = 1
         |), m AS (
         |  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant,
         |         MIN(a.rank) AS best
         |  FROM truth t LEFT JOIN ann a USING (query_id, neighbor_id)
         |  GROUP BY 1
         |)
         |SELECT query_id, n_relevant,
         |       CAST(CASE WHEN best IS NULL THEN 0 ELSE 1 END AS BIGINT) AS found,
         |       CAST(CASE WHEN best IS NULL THEN 0 ELSE 1000000 // best END AS BIGINT) AS rr_ppm
         |FROM m ORDER BY query_id""".stripMargin),
  )
}
