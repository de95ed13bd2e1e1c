package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.VectorFunctions

/** Similarity search over an `array<float>` embedding column.
  *
  * `bruteForceTopK` is the exact baseline: queries × corpus. At scale
  * the small query set is broadcast, so the corpus is scanned once with
  * map-side scoring and only top-k per query survives the single
  * shuffle (the window). `annTopK` is the scale path: sign-LSH or
  * sign-IVF restricts scoring to same-bucket or probed-list candidates,
  * turning the quadratic scan into a bucket-local join — the standard
  * accuracy/throughput trade.
  */
object Similarity {

  /** The two columns of the `embeddings` schema every entry point reads:
    * a unique long id and an `array<float>` vector.
    */
  private val vecId: Column = col("vec_id")
  private val embedding: Column = col("embedding")

  /** Oracle-robust neighbor-ranking key: cosine quantized to the 1e-6
    * grid. Under a raw double key, two engines whose cosine
    * accumulation differs by 1 ulp (SIMD partial sums / FMA fusion —
    * the exact FP class behind the r2/r3 q55–q57 driver hash fails)
    * order near-ties oppositely. On the grid they TIE instead, and the
    * neighbor_id tiebreak resolves identically everywhere; divergence
    * now needs a cosine within 1 ulp of a grid boundary (~1e-10 odds)
    * rather than within 1 ulp of a rival. Every oracle mirrors
    * `floor(list_cosine_similarity(..) * 1000000)`.
    */
  private def rankKey(cosine: Column): Column = floor(cosine * 1e6)

  /** Exact top-k cosine neighbors for each query vector.
    * Ties break on neighbor id — deterministic output.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(vecId.as("query_id"), embedding.as("qv"))
    val c0 = corpus.select(vecId.as("neighbor_id"), embedding.as("cv"))
    // Rebalance before the flop-dense cross product: the compute here
    // is |Q|·n cosines, so parallelism must come from the ROW count,
    // not the byte size. A 200 k-vector corpus is ~50 MB — one HDFS
    // block / one parquet row group — and inheriting the scan's
    // byte-derived splits serializes the whole job (measured at the
    // sf10 sweep: 4 000 queries × 200 k corpus = 800 M cosines in ONE
    // 845-s task while 31 cores idled). One (id, vector) exchange of
    // the corpus is noise next to the quadratic compute it feeds.
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c = if (c0.rdd.getNumPartitions < par) c0.repartition(par) else c0
    val cross = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      // narrow to (ids, cosine) BEFORE the ranking exchange — the
      // window shuffle must never carry the float vectors (at the
      // sf3.0 sweep's 72M pairs the two 64-float payloads are ~40 GB
      // of exchange bytes; the scored triple is ~1.7 GB)
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cosine"))
    // ranking via the bounded top-k aggregate (see [[rankTopK]]) —
    // the |Q|·n scored pairs never reach an exchange
    rankTopK(cross, k)
  }

  /** k-NN majority-label classification built on bruteForceTopK, over
    * the corpus's `label` column. Tie-break: larger vote count first,
    * then smaller label.
    */
  def knnLabel(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val topk = bruteForceTopK(queries, corpus, k)
    val labels = corpus.select(vecId.as("neighbor_id"), col("label").as("nlabel"))
    val votes = topk.join(labels, Seq("neighbor_id"))
      .groupBy("query_id", "nlabel").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("nlabel").as("predicted_label"), col("votes"))
  }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH buckets
    * generate candidates (multiple tables for recall), exact cosine
    * verifies ≥ threshold. The dedup-by-embedding flavor of
    * [[graft.operators.Dedup]] — candidates are bucket-local, never
    * all-pairs.
    */
  def embeddingNearDupPairs(
      corpus: DataFrame, threshold: Double, dim: Int,
      nPlanes: Int = 12, nTables: Int = 4): DataFrame = {
    val tables = (0 until nTables).map { t =>
      VectorFunctions.randomPlanes(nPlanes, dim, seed = 42L + t)
    }
    // narrow-candidate discipline (late r10, the q31 lesson): the
    // bucket self-join and the pair dedup shuffle id tuples only;
    // vectors re-join by id for the cosine verification afterwards
    val bucketed = corpus.select(vecId.as("id"),
      explode(array(tables.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("table"),
          VectorFunctions.hyperplaneBucket(embedding, planes).as("bucket"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.table"), col("tb.bucket"))
    val pairIds = bucketed.as("l").join(bucketed.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairIds
      .join(corpus.select(vecId.as("id_a"), embedding.as("va")), Seq("id_a"))
      .join(corpus.select(vecId.as("id_b"), embedding.as("vb")), Seq("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Semantic (embedding-space) benchmark decontamination — the
    * embedding twin of [[Chunking.flagContaminated]]'s 13-gram
    * containment: flag every training vector whose cosine against ANY
    * benchmark vector reaches the threshold, stated in 1e-6 grid units
    * (`thresholdE6`, the package's oracle-robust cosine quantization).
    * Paraphrased eval leakage defeats n-gram matching; this is the
    * screen that catches it.
    *
    * Scale shape: the BENCHMARK side is broadcast — eval sets are
    * thousands of rows against a corpus of billions — so the corpus is
    * scanned ONCE with map-side scoring, and only the per-train-vector
    * aggregate (id, match count) crosses the shuffle. No corpus
    * self-join, no index build; cost is |corpus| · |bench| dot
    * products, embarrassingly parallel. For benchmark sets too large
    * to broadcast, pre-cut candidates with [[signIvfTopK]]'s list join
    * and verify exactly — same two-stage shape as the dedup family.
    *
    * Output: one row per CONTAMINATED train vector (id, n_bench
    * matches). The raw cosines stay internal — a 1-ulp engine
    * difference at a grid boundary may flip a borderline value, so
    * only threshold-crossing counts (stable far from the boundary for
    * real contamination, which sits near cosine 1) are exposed.
    */
  def semanticDecontaminate(
      train: DataFrame, bench: DataFrame, thresholdE6: Long): DataFrame = {
    val t = train.select(vecId.as("train_id"), embedding.as("tv"))
    val b = bench.select(embedding.as("bv"))
    t.crossJoin(broadcast(b))
      .filter(rankKey(VectorFunctions.cosine(col("tv"), col("bv"))) >= thresholdE6)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_matches"))
  }

  /** [[semanticDecontaminate]]'s scale path for benchmark sets too
    * large to broadcast: both sides bucket on the sign-quantizer list
    * id ([[signBucket]] over [[quantDims]]) and only same-list pairs
    * are scored — the blocked similarity join, a shuffle on list_id
    * instead of a broadcast. APPROXIMATE by the quantizer's nature
    * (a true match whose sampled component signs differ lands in
    * another list and is missed — byte-identical leaks always share a
    * list), but the candidate generation is pure sign tests, so the
    * approximate result itself is engine-reproducible and
    * oracle-checked exactly (the q31/q44 discipline). Occupancy
    * follows [[autoQuantBits]]: size `bits` so per-list cross products
    * stay bounded as either side grows.
    */
  def semanticDecontaminateBlocked(
      train: DataFrame, bench: DataFrame, thresholdE6: Long,
      dim: Int, bits: Int = 7): DataFrame = {
    val dims = quantDims(dim, bits)
    val t = train.select(vecId.as("train_id"), embedding.as("tv"),
      signBucket(embedding, dims).as("list_id"))
    val b = bench.select(embedding.as("bv"),
      signBucket(embedding, dims).as("list_id"))
    t.join(b, Seq("list_id"))
      .filter(rankKey(VectorFunctions.cosine(col("tv"), col("bv"))) >= thresholdE6)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_matches"))
  }

  /** Embedding near-dup RESOLUTION: candidate pairs → connected
    * components → one surviving `keep_id` (minimum id) per cluster —
    * the embedding-space counterpart of
    * [[graft.operators.Dedup.resolveNearDups]]. Every corpus vector
    * appears in the output; singletons keep themselves.
    *
    * `checkpointDir` has the same contract as the document-side path:
    * None truncates component rounds via `localCheckpoint` (local
    * mode); a reliable dir makes them parquet-durable on a cluster.
    */
  def resolveEmbeddingNearDups(
      corpus: DataFrame, threshold: Double, dim: Int,
      nPlanes: Int = 12, nTables: Int = 4,
      checkpointDir: Option[String] = None): DataFrame = {
    val pairs = embeddingNearDupPairs(corpus, threshold, dim, nPlanes, nTables)
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b",
        checkpointDir = checkpointDir)
      .withColumnRenamed("doc_id", "vec_id")
    corpus.select(vecId.as("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("keep_id"))
  }

  // -----------------------------------------------------------------
  // Oracle-portable ANN variants. Random-plane LSH and k-means IVF
  // generate candidates from JVM-seeded Gaussian planes and Lloyd
  // iterations, which no SQL oracle reproduces. The sign-bit
  // variants here make candidate selection PURE sign tests and integer
  // arithmetic on the stored floats — bit-reproducible in any engine —
  // so the driver's DuckDB gate can value-check the full approximate
  // result, not just count rows. Same bucketed join shapes, same
  // 100 TB posture; only the quantizer differs.
  // -----------------------------------------------------------------

  /** Bucket id from the sign bits of the selected (1-indexed) vector
    * components: bit j = 1 iff vec[dims(j)] > 0. Bit-sampling LSH for
    * cosine — a deterministic, engine-portable special case of
    * hyperplane hashing (the planes are coordinate axes).
    */
  def signBucket(vec: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, j) =>
      when(element_at(vec, d) > lit(0.0f), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Evenly spread quantizer dims: bits components at stride dim/bits,
    * 1-indexed (matches SQL array indexing). Requires dim ≥ bits:
    * fewer components than bits would silently reuse component 1 for
    * every bit and collapse the 2^bits lists to 2.
    */
  def quantDims(dim: Int, bits: Int): Seq[Int] = {
    require(dim >= bits,
      s"quantDims: vector dim $dim < $bits quantizer bits — the stride would collapse")
    (0 until bits).map(i => 1 + i * (dim / bits))
  }

  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    // bounded top-k AGGREGATE, not a row_number window: partial
    // aggregation cuts to k pairs per query map-side, so the exchange
    // carries ≤ |Q|·tasks·k pairs and nothing globally sorts the
    // scored relation (the window form shuffled+sorted every scored
    // pair — 800 M rows for the sf10 exhaustive scans). Same rank
    // order and tie-break (rankKey desc, neighbor_id asc); callers'
    // vector columns are projected away before the exchange as before.
    cands.select(col("query_id"), col("neighbor_id"), col("cosine"))
      .groupBy(col("query_id"))
      .agg(GraftFunctions.boundedTopK(
        rankKey(col("cosine")), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.i").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Joint (planesPerTable, nTables) plan for [[signLshTopK]]. LSH
    * theory says holding recall while shrinking buckets requires
    * growing TABLES alongside planes (per-table match probability
    * p^planes falls exponentially; tables recover it linearly), and
    * the axis-sampled sign scheme caps tables · planes at `dim` — so
    * this plan grows planes at QUARTER rate (one per 16× corpus
    * growth) and spends the saved dim budget on tables. Measured on
    * the n = 20000 organic corpus (recall@5 / wall): occupancy-chasing
    * plane growth (8 planes × 8 tables) 0.214/1.4 s — fast but
    * useless; this plan (5 × 12) 0.780/5.2 s; a fixed plan (4 × 8)
    * 0.820/6.8 s but degrading toward a full scan as n grows. Pinned
    * (4, 8) at every oracle-gated scale (n ≤ 2000), so q31's oracle
    * stays exact. Past n ≈ 10⁵ per 64 dims the wall binds and recall
    * degrades by necessity — the centroid-probed sign-IVF/IVFADC
    * family (organic 0.82–0.85 at its budgets) is the documented scale
    * path there.
    */
  def autoLshPlan(n: Long, dim: Int = 64): (Int, Int) = {
    val targetOccupancy = 125 // vectors per bucket; n ≤ 2000 stays at (4, 8)
    val buckets = (n + targetOccupancy - 1) / targetOccupancy
    val needed =
      if (buckets <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    val planes = math.min(math.max(4, 4 + (needed - 4) / 4), dim / 8)
    val tables = math.min(dim / planes, math.max(8, 8 + (needed - 4)))
    (planes, tables)
  }

  /** Corpus-size ceiling of the axis-sampled sign-LSH regime, per
    * dimension of budget: past ~1600·dim vectors the dim wall binds
    * (tables·planes ≤ dim caps how much bucket selectivity any joint
    * plan can buy) and candidates stop shrinking relative to the
    * corpus — the 100× sweep measured q31's best plan at n = 200 000 /
    * 64 dims producing candidate sets ≈37 % of the corpus per query,
    * 1,055 s wall, while sign-IVF served 16 ms/query on the same
    * corpus (SCALING.md "The 100× point"). 1600·64 = 102 400 puts the
    * measured-good 60 k point (21 s) inside the regime and the
    * measured-bad 200 k point outside; the linear-in-dim form reflects
    * that every extra dimension is one more sign plane the joint plan
    * can spend.
    */
  def lshRegimeMax(dim: Int): Long = 1600L * dim

  /** Which ANN family [[annTopK]] runs, with the budgets it runs at.
    * Each case carries exactly the values its family takes, so callers,
    * capacity planning and specs read the plan instead of re-deriving
    * it.
    */
  sealed trait AnnPlan
  /** [[signLshTopK]] under the joint [[autoLshPlan]]. */
  final case class SignLsh(planes: Int, tables: Int) extends AnnPlan
  /** [[signIvfTopK]] at [[autoQuantBits]] lists and [[probeBudget]] probes. */
  final case class SignIvf(bits: Int, nProbe: Int) extends AnnPlan

  /** The ANN plan for `n` corpus vectors of `dim` components, decided by
    * corpus regime: sign-LSH inside [[lshRegimeMax]], sign-IVF past it —
    * the measured 50× cliff (1,055 s vs ~20 s at n = 200 000) that a
    * scaladoc pointer alone let callers walk into. At every oracle-gated
    * scale (n ≤ 2000) the plan is the pinned SignLsh(4, 8) the q31
    * oracle encodes.
    */
  def annPlan(n: Long, dim: Int): AnnPlan =
    if (n <= lshRegimeMax(dim)) {
      val (planes, tables) = autoLshPlan(n, dim)
      SignLsh(planes, tables)
    } else {
      val bits = autoQuantBits(n, dim)
      SignIvf(bits, probeBudget(bits))
    }

  /** ANN top-k under [[annPlan]]: sign-LSH or sign-IVF by corpus regime.
    * Both families are deterministic sign-test candidate generation
    * plus exact-cosine ranking, so the result stays oracle-reproducible
    * whichever plan a corpus lands on. `corpusCount` lets callers that
    * already know n (or specs pinning the plan) skip the count job;
    * `checkpointDir` is the durable truncation option of the sign-IVF
    * family.
    */
  def annTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int = 64,
      corpusCount: Long = -1L,
      checkpointDir: Option[String] = None): DataFrame = {
    val n = if (corpusCount >= 0L) corpusCount else corpus.count()
    annPlan(n, dim) match {
      case SignLsh(planes, tables) =>
        signLshTopK(queries, corpus, k, nTables = tables, planesPerTable = planes, dim = dim)
      case SignIvf(bits, nProbe) =>
        signIvfTopK(queries, corpus, k, dim = dim, bits = bits, nProbe = nProbe,
          checkpointDir = checkpointDir)
    }
  }

  /** Occupancy-tuned coarse-quantizer width for the sign-IVF/IVFADC
    * family: grow the list count toward nlist ≈ √n (bits =
    * ⌈log2(n)/2⌉, the classic IVF sizing rule — per-query work ∝
    * nlist + n/nlist minimizes at √n), floored at 7 so every
    * oracle-gated scale (n ≤ 2000 ⇒ ⌈11/2⌉ = 6 < 7) keeps the exact
    * 128-list layout the pinned q44/q72/q134/q175/q177/q178/q179
    * oracles encode. With `bits` FIXED, list occupancy grows ∝ n and
    * the probed candidate pool with it — the r9 sf3.0 sweep measured
    * q175 super-linear (16.5× for 3×) from exactly this. Pure integer
    * arithmetic (bit length), no FP-ceil boundary; capped at
    * min(16, dim) — quantDims needs dim ≥ bits, and 2^16 lists is
    * already past any corpus this library meets per partition.
    */
  def autoQuantBits(n: Long, dim: Int): Int = {
    val bl = if (n <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(n - 1) // = ceil(log2 n)
    math.min(math.max(7, (bl + 1) / 2), math.min(16, dim))
  }

  /** Occupancy-scaled exact-rerank budget for the ADC family —
    * `autoQuantBits`' companion on the rerank axis: with a FIXED cut,
    * ADC quantization error pushes a growing share of true neighbors
    * below the boundary as the corpus grows (measured on the
    * sf1.0-organic corpus: rerank 96 caps IVFADC recall@5 at 0.768
    * even probing half the lists; n/100 = 200 lifts it to 0.842 —
    * SCALING.md). rerank ≈ n/100 keeps the exact-cosine stage ~1 % of
    * the corpus per query; the 96 floor keeps every driver-gated scale
    * (n ≤ 2000 ⇒ n/100 ≤ 20) on the pinned oracles' budget, and the
    * 1024 cap bounds per-query float I/O — past it, raise nProbe or
    * bits instead. Recall is monotone in rerank (a larger ADC cut is a
    * superset re-ranked exactly), so growing the budget never hurts.
    */
  def autoAdcRerank(n: Long): Int =
    math.min(math.max(96L, n / 100L), 1024L).toInt

  /** Probe budget as a FRACTION of the list count — the 100× sweep's
    * lesson made executable: recall per probed-fraction is ~flat as
    * the corpus grows under nlist ≈ √n (SCALING.md "The 100× point":
    * 37.5 % of lists holds sign-IVF recall@5 at 0.82–0.90 from
    * n = 20 000 to 200 000), while a FIXED probe count silently decays
    * (0.70 at the same n = 200 000). The default 375 ‰ is the fraction
    * every pinned catalog budget already encodes — nProbe 48 of 128
    * lists (bits 7), 96 of 256 (bits 8, the organic gate), 192 of 512
    * (bits 9, the 100× point) — so `probeBudget(autoQuantBits(n, dim))`
    * reproduces each of them and keeps the semantics as the corpus
    * scales. Tune the fraction itself with `recallProbeCurve` (q177).
    */
  def probeBudget(bits: Int, fractionPermille: Int = 375): Int = {
    require(bits >= 1 && bits <= 16, s"bits out of range: $bits")
    require(fractionPermille >= 1 && fractionPermille <= 1000,
      s"fractionPermille out of range: $fractionPermille")
    math.max(1L, (1L << bits) * fractionPermille / 1000L).toInt
  }

  /** Sign-bit LSH top-k: table t buckets on the sign pattern of
    * components [t·planesPerTable+1, …] — candidates share a bucket in
    * ≥1 table, then exact cosine ranks them. Deterministic end to end;
    * the DuckDB oracle reproduces the same buckets with CASE on array
    * elements (q31).
    */
  def signLshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nTables: Int = 8, planesPerTable: Int = 4,
      dim: Int = 64): DataFrame = {
    // table nTables-1 reads components up to nTables*planesPerTable;
    // past the vector's end element_at is an ANSI runtime error (or a
    // silently skewed null→0 bit with ANSI off) — fail fast instead
    require(dim >= nTables * planesPerTable,
      s"signLshTopK: dim $dim < ${nTables * planesPerTable} sampled components")
    // candidate generation runs on NARROW id rows — the bucket join
    // and the (query, neighbor) dedup shuffle ~32-byte tuples, and the
    // float vectors are attached by id-keyed joins only AFTER the
    // multiplicity is gone. The earlier shape carried both 64-float
    // vectors through the bucket join and the dedup exchange, and on
    // twin-heavy corpora (dense buckets × nTables multiplicity) that
    // payload WAS the cost: the r10 sf3.0 sweep measured q31 at 187 s,
    // ~16 GB of vector bytes through two exchanges; this shape moves
    // ~1 GB of ids and re-joins the corpus once.
    def bucketed(df: DataFrame, id: String) =
      df.select(vecId.as(id),
        explode(array((0 until nTables).map { t =>
          struct(lit(t).as("table"),
            signBucket(embedding,
              (1 to planesPerTable).map(j => t * planesPerTable + j)).as("bucket"))
        }: _*)).as("tb"))
        .select(col(id), col("tb.table"), col("tb.bucket"))
    val pairIds = bucketed(queries, "query_id")
      .join(bucketed(corpus, "neighbor_id"), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val cands = pairIds
      .join(queries.select(vecId.as("query_id"), embedding.as("qv")),
        Seq("query_id"))
      .join(corpus.select(vecId.as("neighbor_id"), embedding.as("cv")),
        Seq("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
    rankTopK(cands, k)
  }

  /** Fixed-point scale for the centroid-probe arithmetic: vector
    * components become ⌊v·10⁴⌋ longs. With |v| < 1 this bounds every
    * quantity the probe ranking touches — |m| ≤ 10⁴ per component,
    * |s2| ≤ dim·10⁸, t2 ≤ dim·10⁸ — so the cross-multiplied score
    * comparisons (s2²·t2 ~ 10²⁸ at dim 64) fit DECIMAL(38,0) on the
    * Spark side and HUGEINT in the oracle, exactly.
    */
  val centroidScale: Int = 10000

  /** ⌊x·[[centroidScale]]⌋ as a long: the fixed-point map every integer
    * probe, codebook and lookup table in this file is built on.
    */
  private def scaled(x: Column): Column =
    floor(x.cast("double") * centroidScale).cast("long")

  /** [[scaled]] applied to every component of a vector column. */
  private def scaledVec(vec: Column): Column = transform(vec, x => scaled(x))

  /** Integer IVFADC residual rv = ⌊v·scale⌋ − centroid, per component. */
  private def residual(vec: Column, centroid: Column): Column =
    zip_with(scaledVec(vec), centroid, (a, b) => a - b)

  /** Integer-exact per-list centroid SUMS for the sign-quantizer IVF:
    * (list_id, pos, s, cnt) where s = Σ ⌊v[pos]·scale⌋ over the list's
    * members. Sums (not means) are what an INCREMENTAL index stores:
    * long addition is exactly associative, so append-maintained sums
    * equal one-shot sums bit-for-bit — the property that keeps
    * build(A)+append(B) ≡ rebuild(A∪B) (q134). Map-side combinable:
    * the shuffle carries ≤ 2^bits·dim partial rows per task, never the
    * corpus.
    */
  def signListCentroidSums(
      corpus: DataFrame, dims: Seq[Int]): DataFrame =
    corpus.select(signBucket(embedding, dims).as("list_id"),
        posexplode(embedding).as(Seq("pos", "v")))
      .groupBy(col("list_id"), col("pos"))
      .agg(sum(scaled(col("v"))).as("s"),
        count(lit(1)).as("cnt"))

  /** Per-list integer centroids from the stored sums: component means
    * by FLOOR division (computed as exact division after subtracting
    * the positive remainder — engine-neutral, where a native `/` or
    * `//` would disagree on negative operands between SQL dialects),
    * assembled into a position-ordered vector with its squared norm.
    * Lists whose centroid floors to the zero vector carry no direction
    * and are excluded — deterministically on every engine (t2 = 0 is
    * an exact integer test).
    */
  def signListCentroids(sums: DataFrame): DataFrame =
    signListCentroidsFromVectors(listCentroidVectors(sums))

  /** Unfiltered per-list integer centroid vectors (list_id, mvec) from
    * the stored sums — EVERY occupied list, including those whose
    * centroid floors to zero. Residual encoding ([[ivfAdcTopK]]) needs
    * a centroid for every list a corpus vector lives in; only the
    * PROBE excludes direction-free lists.
    */
  def listCentroidVectors(sums: DataFrame): DataFrame =
    sums
      .withColumn("m", expr("(s - ((s % cnt) + cnt) % cnt) DIV cnt"))
      .groupBy(col("list_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("mvec"))

  /** The probe-facing centroid table from [[listCentroidVectors]]'s
    * output: squared norm attached, zero-direction lists excluded
    * (t2 = 0 is an exact integer test — deterministic on every
    * engine).
    */
  def signListCentroidsFromVectors(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("t2",
        aggregate(col("mvec"), lit(0L), (acc, x) => acc + x * x))
      .filter(col("t2") > 0)
      .select(col("list_id"), col("mvec"), col("t2"))

  /** Probe-list selection for the sign-quantizer IVF: rank the lists
    * by cosine proximity of the query to each list's integer centroid
    * — the k-means-IVF probe rule applied to structural sign lists
    * (r7; replaces the multi-probe bit-flip costs, measured recall@5
    * 0.72 → 0.86/0.79 at sf0.01/sf0.1 at the same 48-list budget).
    * The ranking is EXACT and engine-portable: score s2/√t2 is never
    * evaluated — lists compare via sign cases and the cross-multiplied
    * squares s2²·t2' (DECIMAL(38,0), no rounding), with list_id
    * breaking exact ties, so the probe set is bit-identical in any
    * engine. The rank is a pairwise "count of strictly-better lists"
    * aggregated over a broadcast self-join of 2^bits-row score sets —
    * no window over an exploded 2^bits·|Q| frame, and the only shuffle
    * is the final per-(query, list) count.
    */
  private def centroidProbe(
      queries: DataFrame, cents: DataFrame, nProbe: Int, withQv: Boolean = true): DataFrame = {
    val ranks = centroidProbeRanks(queries, cents, withQv)
      .filter(col("nbetter") < nProbe)
    if (withQv) ranks.select(col("query_id"), col("qv"), col("list_id"))
    else ranks.select(col("query_id"), col("list_id"), col("s2"))
  }

  /** [[centroidProbe]] without the budget cut: every (query, list)
    * pair with its probe rank `nbetter` (the count of strictly-better
    * lists — `nbetter < nProbe` IS the probe set at that budget). One
    * computation serves a whole recall-vs-nProbe calibration sweep
    * ([[recallProbeCurve]]): the ranking is nProbe-independent, so the
    * grid points differ only by a filter.
    *
    * `withQv = false` skips the query-vector attach join AND
    * exposes `s2 = ⟨⌊q·scale⌋, c_L⟩` — the probe already computes the
    * exact per-(query, probed-list) centroid dot product that the
    * IVFADC serving paths re-derived as `lc` through two more joins
    * (qi projection ⋈ broadcast centroid vectors); identical integer
    * expression over identical inputs, so carrying it out is
    * bit-identical and two joins + one broadcast build cheaper per
    * serve. The ADC paths never read `qv` from the probe, so the
    * attach join was pure overhead there.
    *
    * CONTRACT (r17, ADVICE r16): `vec_id` values must be UNIQUE in
    * `queries` — s2 is functionally dependent on (query_id, list_id)
    * only then. Duplicate ids with different vectors would carry
    * distinct s2 values into the grouping key and split their
    * `nbetter` counts instead of merging them (the pre-r16 behavior).
    * Every caller passes either distinct corpus ids or a sampled
    * subset of them, so the contract holds by construction; a new
    * caller with non-unique ids must dedupe first.
    */
  private def centroidProbeRanks(
      queries: DataFrame, cents: DataFrame, withQv: Boolean = true): DataFrame = {
    val q = queries.select(vecId.as("query_id"), embedding.as("qv"),
      scaledVec(embedding).as("qi"))
    // Loud domain guard: the exact comparisons below live in
    // DECIMAL(12,0), which holds because |v| < 1 keeps |s2| and t2
    // under dim·scale² ≈ 6.4e9. Unnormalized embeddings would breach
    // 1e12 and (on an ANSI-off session) overflow the casts to NULL,
    // silently degrading the probe set to "all lists" — fail the query
    // instead, at the row that breaches.
    val dec12Max = 999999999999L
    def guarded(x: Column, name: String): Column =
      when(abs(x) > dec12Max,
        raise_error(concat(lit(s"centroidProbe: |$name| exceeds the DECIMAL(12,0) " +
          "domain — embeddings must satisfy |component| < 1 (got score "),
          x.cast("string"), lit(")"))).cast("long"))
        .otherwise(x)
    val scored = q.crossJoin(broadcast(cents))
      .withColumn("s2", guarded(
        aggregate(zip_with(col("qi"), col("mvec"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x), "s2"))
      .select(col("query_id"), col("list_id"), col("s2"),
        guarded(col("t2"), "t2").as("t2"))
    val dec = org.apache.spark.sql.types.DecimalType(12, 0)
    val a = scored.as("a")
    val b = scored.select(col("query_id"), col("list_id").as("list_b"),
      col("s2").as("s2b"), col("t2").as("t2b")).as("b")
    val crossA = col("a.s2").cast(dec) * col("a.s2").cast(dec) * col("b.t2b").cast(dec)
    val crossB = col("b.s2b").cast(dec) * col("b.s2b").cast(dec) * col("a.t2").cast(dec)
    val aPos = col("a.s2") >= 0
    val bPos = col("b.s2b") >= 0
    val better = when(bPos && !aPos, true)
      .when(!bPos && aPos, false)
      .when(bPos && aPos, crossB > crossA)
      .otherwise(crossB < crossA)
    val tieSmaller = (bPos === aPos) && (crossB === crossA) &&
      (col("b.list_b") < col("a.list_id"))
    // no broadcast hint: the self-join keys on query_id, so at scale it
    // is an ordinary co-partitioned join over (queries × 2^bits)-row
    // sides — AQE broadcasts it when the query set is actually small;
    // a hint here would ship the whole score set to every executor at
    // 10⁶ queries
    // `a.s2` joins the grouping key (functionally dependent on
    // (query_id, list_id), so the groups are unchanged) to ride out as
    // the serving paths' exact centroid term (scaladoc above).
    val ranked = a.join(b, Seq("query_id"))
      .groupBy(col("query_id"), col("a.list_id").as("list_id"),
        col("a.s2").as("s2"))
      .agg(sum(when(better || tieSmaller, 1L).otherwise(0L)).as("nbetter"))
    if (!withQv)
      ranked.select(col("query_id"), col("list_id"), col("s2"), col("nbetter"))
    else ranked.join(q.select(col("query_id"), col("qv")), Seq("query_id"))
      .select(col("query_id"), col("qv"), col("list_id"), col("s2"), col("nbetter"))
  }

  /** Shared serving tail for both sign-IVF paths: probed (query, list)
    * pairs joined to the inverted lists, self-matches dropped, exact
    * cosine ranked. ONE implementation so the `signIvfTopK` ≡
    * `querySignIvfIndex` guarantee (asserted by spec and by the shared
    * q44/q72 oracle) is structural, not copy-paste discipline.
    */
  private def rankSignCandidates(lists: DataFrame, probes: DataFrame, k: Int): DataFrame =
    rankTopK(probes.join(lists, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv2"))), k)

  /** IVF with a sign-pattern coarse quantizer: 2^bits lists keyed by
    * the signs of `bits` evenly spread components, probed by centroid
    * proximity ([[centroidProbe]]). The FAISS IVF shape (list
    * assignment is one map-side projection, the probe join shuffles on
    * list id) with a quantizer AND probe rule any SQL engine can
    * reproduce exactly, so every probe is oracle-checked.
    */
  def signIvfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 7, nProbe: Int = 48,
      checkpointDir: Option[String] = None): DataFrame = {
    val dims = quantDims(dim, bits)
    val lists = corpus.select(vecId.as("neighbor_id"), embedding.as("cv2"),
      signBucket(embedding, dims).as("list_id"))
    // materialize the ≤2^bits-row centroid table: the probe's pairwise
    // rank references it on BOTH sides of its self-join, and without
    // truncation each side re-runs the corpus-sized sum aggregation —
    // two full corpus scans instead of one (visible in the q44 plan as
    // twin aggregate trees). The index path doesn't need this: its
    // centroids come from a tiny parquet read. `checkpointDir` is the
    // package's usual durable-truncation option; the snapshot backs
    // the returned frame (caller/TTL frees it).
    val cents = DurableSnapshots.truncate(
      signListCentroids(signListCentroidSums(corpus, dims)),
      checkpointDir, "probe_centroids")
    rankSignCandidates(lists,
      centroidProbe(queries, cents, nProbe), k)
  }

  /** Persist the sign-quantizer IVF index: corpus parquet PARTITIONED
    * BY list id, plus the per-list integer centroid SUMS as a side
    * table ([[signListCentroidSums]]) — the serving probe ranks lists
    * by centroid proximity, and recomputing sums at query time would
    * scan every list, defeating the partition pruning the index exists
    * for. The quantizer itself stays structural (sign bits), so list
    * ASSIGNMENTS are still recomputable by any engine from the data
    * alone. Generations are batch-keyed: the build writes the reserved
    * [[BatchedIndex.buildBatchId]] generation, appends any other.
    */
  def buildSignIvfIndex(
      corpus: DataFrame, path: String, dim: Int, bits: Int = 7): Unit = {
    // a rebuild supersedes every prior generation INCLUDING append
    // batches: writing only its own batch_id=base subdir would leave
    // stale batch_id=<id> directories mixing an old corpus into the
    // new index — clear both table roots first
    DurableSnapshots.delete(corpus, s"$path/lists")
    DurableSnapshots.delete(corpus, s"$path/centroid_sums")
    // concurrent independent writes (r16, [[BatchedIndex.inParallel]])
    BatchedIndex.inParallel(
      corpus.select(vecId, embedding,
        signBucket(embedding, quantDims(dim, bits)).as("list_id"))
        // pre-shuffle on the partition key: an unshuffled partitionBy
        // write mints (write tasks × 2^bits) small files — at 1000
        // executors that is the classic small-files explosion. After the
        // shuffle each list lands in exactly one task → ≤2^bits files
        // per build. The count is EXPLICIT: a keys-only repartition is
        // an AQE-coalescible exchange, and on a small build AQE folds it
        // to one partition — a single task then writes all 2^bits
        // directories sequentially (~25 ms parquet open/commit each;
        // measured 3.1 s vs 0.9 s at 128 lists). Width capped by the
        // session shuffle width (r16): [[BatchedIndex.writeWidth]].
        .repartition(BatchedIndex.writeWidth(corpus.sparkSession, 1 << bits), col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id").parquet(s"$path/lists/batch_id=${BatchedIndex.buildBatchId}"),
      signListCentroidSums(corpus, quantDims(dim, bits))
        .coalesce(1) // ≤ 2^bits·dim tiny rows — one file, no shuffle
        .write.mode("overwrite")
        .parquet(s"$path/centroid_sums/batch_id=${BatchedIndex.buildBatchId}"))
  }

  /** Incrementally add a batch to a persisted sign-IVF index. The
    * quantizer is STRUCTURAL (sign tests on fixed dimensions), so new
    * vectors are assigned with exactly the same tests and appended
    * into their `list_id` partitions — no retraining, no rewrite of
    * existing lists, and the result is bit-identical to rebuilding
    * from scratch (q134 value-checks build(A)+append(B) against the
    * one-shot full-corpus oracle). This is the 100 TB maintenance
    * posture: daily index cost is batch-sized, not corpus-sized — a
    * k-means IVF gets the same append path only until centroid drift
    * forces a retrain, which is why the serving index uses the
    * structural quantizer. Appended files accumulate per partition;
    * [[PartitionedLake.compact]] is the companion pass when they do.
    */
  def appendSignIvfIndex(
      batch: DataFrame, path: String, batchId: String, dim: Int, bits: Int = 7): Unit = {
    BatchedIndex.requireBatchId(batchId)
    // concurrent independent writes (r16, [[BatchedIndex.inParallel]])
    BatchedIndex.inParallel(
      batch.select(vecId, embedding,
        signBucket(embedding, quantDims(dim, bits)).as("list_id"))
        // ≤2^bits new files per batch, not per (task × list); explicit
        // count so AQE can't coalesce the exchange to one sequential
        // writer task (see buildSignIvfIndex); width capped by the
        // session shuffle width (r16): [[BatchedIndex.writeWidth]]
        .repartition(BatchedIndex.writeWidth(batch.sparkSession, 1 << bits), col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id").parquet(s"$path/lists/batch_id=$batchId"),
      // The batch's OWN centroid sums land as their own shard — readers
      // fold shards by summing (BatchedIndex.foldSums), which
      // long-associativity makes bit-identical to the one-shot table
      // (the q134 oracle's invariant). No read-modify-write, no swap
      // (r10, ADVICE r9): both
      // writes overwrite only this batch's subdirs, so a crashed or
      // duplicated append recovers by RE-RUNNING THE SAME (batch,
      // batchId) call — the retry overwrites the torn shard instead of
      // double-appending rows, and no window ever leaves the index
      // without a durable sums copy. Caller contract: batch ids are
      // unique per logical batch (reusing one replaces that batch).
      signListCentroidSums(batch, quantDims(dim, bits))
        .coalesce(1) // ≤ 2^bits·dim tiny rows — one file
        .write.mode("overwrite").parquet(s"$path/centroid_sums/batch_id=$batchId"))
  }

  /** Serve from a persisted sign-IVF index: rank lists by centroid
    * proximity from the stored sums ([[centroidProbe]] over the
    * `centroid_sums` side table), scan only the probed partitions
    * (list_id reaches the scan as a partition filter), exact-cosine
    * rank. Result is identical to [[signIvfTopK]] at equal parameters
    * — the spec and the q44/q72 oracle pair assert exactly that.
    */
  def querySignIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, dim: Int, bits: Int = 7, nProbe: Int = 48): DataFrame = {
    // loud torn-append/compaction detection before any data is read —
    // a lists generation without its sums shard (or vice versa) would
    // otherwise serve silently-shifted probes (r10; pure dir listing)
    BatchedIndex.assertConsistentBatches(spark, s"$path/lists", s"$path/centroid_sums")
    val lists = spark.read.parquet(s"$path/lists")
      .select(vecId.as("neighbor_id"), embedding.as("cv2"), col("list_id"))
    val cents = signListCentroids(BatchedIndex.foldSums(
      spark.read.parquet(s"$path/centroid_sums"), Seq("list_id", "pos")))
    rankSignCandidates(lists,
      centroidProbe(queries, cents, nProbe), k)
  }

  /** Contiguous sub-vector blocks for product quantization: `m` blocks
    * of dim/m consecutive 1-indexed components. Requires m | dim so
    * every component belongs to exactly one block (a ragged tail would
    * silently drop dimensions from the distance).
    */
  def pqBlocks(dim: Int, m: Int): Seq[Seq[Int]] = {
    require(dim % m == 0 && m > 0,
      s"pqBlocks: m=$m must divide dim=$dim")
    val w = dim / m
    // Loud bound, not just m | dim: the sign code packs one bit per
    // block component into a LONG (1L << j in signBucket), so w > 62
    // silently overflows to negative/colliding codes — and the
    // codebook/lookup table is m·2^w rows, astronomically sized long
    // before that. 16 is the practical ceiling (65 536-cell codebook);
    // real PQ uses w of 4–8.
    require(w <= 16,
      s"pqBlocks: dim/m = $w sub-vector components > 16 — the sign " +
        s"code is one bit per component, so the codebook has m·2^$w " +
        "cells; raise m so dim/m <= 16")
    (0 until m).map(j => (1 to w).map(i => j * w + i))
  }

  /** (neighbor_id, sub, code, sv): one row per corpus sub-vector,
    * carrying its block slice for the codebook sums. `corpusC` must
    * expose (neighbor_id, cv2).
    */
  private[graft] def pqCodeRows(corpusC: DataFrame, dim: Int, m: Int): DataFrame = {
    val w = dim / m
    val subStructs = pqBlocks(dim, m).zipWithIndex.map { case (b, j) =>
      struct(lit(j).as("sub"), signBucket(col("cv2"), b).as("code"),
        slice(col("cv2"), j * w + 1, w).as("sv"))
    }
    corpusC
      .select(col("neighbor_id"), explode(array(subStructs: _*)).as("s"))
      .select(col("neighbor_id"), col("s.sub").as("sub"),
        col("s.code").as("code"), col("s.sv").as("sv"))
  }

  /** Integer codebook per (sub, code, pp): floor-scaled component sums
    * then the engine-neutral floor division (see [[signListCentroids]]
    * for why not native DIV on negatives).
    */
  private[graft] def pqCodebook(codeRows: DataFrame): DataFrame =
    codeRows
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pp0", "x")))
      .groupBy(col("sub"), col("code"), (col("pp0") + 1).as("pp"))
      .agg(sum(scaled(col("x"))).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("mc", expr("(s - ((s % cnt) + cnt) % cnt) DIV cnt"))
      .select(col("sub"), col("code"), col("pp"), col("mc"))

  /** Per-query ADC lookup table: the integer score of every
    * (sub, code) cell — m·2^(dim/m) rows per query, from a broadcast
    * codebook.
    */
  private[graft] def pqQueryTable(
      queries: DataFrame, codebook: DataFrame, dim: Int, m: Int): DataFrame = {
    val w = dim / m
    queries
      .select(vecId.as("query_id"),
        posexplode(embedding).as(Seq("p0", "x")))
      .select(col("query_id"),
        (col("p0") / w).cast("int").as("sub"), (col("p0") % w + 1).as("pp"),
        scaled(col("x")).as("qx"))
      // ONE exchange for the whole LUT build (r16): hash(query_id)
      // satisfies every downstream clustering — (query_id, sub, code)
      // here and (query_id) in [[pqLuts]] — and the broadcast codebook
      // join preserves the streamed side's partitioning, so both
      // aggregations run exchange-free above this. The old shape paid
      // two agg exchanges per serving batch (hash(q,s,c) does not
      // satisfy hash(q)); rows shipped are |Q|·dim either way (the
      // 16×-fan-out codebook join now sits above the exchange instead
      // of its partial agg below — both sides are query-batch-sized).
      .repartition(col("query_id"))
      .join(broadcast(codebook), Seq("sub", "pp"))
      .groupBy(col("query_id"), col("sub"), col("code"))
      .agg(sum(col("qx") * col("mc")).as("sjc"))
  }

  /** Dense per-query lookup-table frames from [[pqQueryTable]] rows:
    * one array<long> of m·2^w cells per query, indexed sub·2^w + code.
    * |Q|·m·2^w longs total — the natural BROADCAST side of the narrow
    * compressed-domain scan (the per-query serving batch, not the
    * corpus). Unobserved cells stay 0 and are never read: a corpus
    * code always names a cell its own codebook was trained on.
    */
  private[graft] def pqLuts(sc: DataFrame, m: Int, w: Int): DataFrame =
    sc.select(col("query_id"),
        (col("sub").cast("long") * (1L << w) + col("code")).as("idx"),
        col("sjc"))
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("idx"), col("sjc"))).as("ent"))
      .select(col("query_id"),
        GraftFunctions.scatterLut(
          transform(col("ent"), s => s.getField("idx")),
          transform(col("ent"), s => s.getField("sjc")),
          m << w).as("lut"))

  /** Packed per-vector code arrays (codes[j] = block j's code) from
    * exploded RESIDUAL code rows — the scan-side twin of the codebook
    * aggregation, derived from the same materialized rows so the
    * corpus is not re-encoded. Carries `list_id` (functionally
    * dependent on neighbor_id) so the probed-list join happens ON this
    * table — candidate pairs are born next to their codes instead of
    * shuffling onto them (r15; see [[ivfAdcTopK]]).
    */
  private def packCodes(codeRows: DataFrame): DataFrame =
    codeRows.groupBy(col("neighbor_id"), col("list_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** ADC-rank `pairs` (query_id, neighbor_id) by summed table lookups,
    * keep the top `rerank` per query (ties on neighbor_id), then
    * exact-cosine re-rank the short list to top-k.
    */
  private def adcRerank(
      pairsScored: DataFrame, queries: DataFrame, corpusC: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    // bounded top-`rerank` aggregate instead of a row_number window:
    // the ADC cut's input is the full scored candidate relation (the
    // EXHAUSTIVE scan's is |Q|·n — 800 M pairs at the sf10 sweep
    // point, where the window's global sort was the catalog's slowest
    // stage at 1 616 s), and only the k-th-best membership SET is
    // needed, which the heap reproduces exactly (adc desc,
    // neighbor_id asc).
    val survivors = pairsScored
      .groupBy(col("query_id"))
      .agg(GraftFunctions.boundedTopK(
        col("adc"), col("neighbor_id"), rerank).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.i").as("neighbor_id"))
    rankTopK(survivors
      .join(queries.select(vecId.as("query_id"), embedding.as("qv")), Seq("query_id"))
      .join(corpusC, Seq("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv2"))), k)
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the memory-bounded serving path: each corpus vector is stored as
    * `m` sub-vector CODES (here: the sign pattern of its block, so the
    * quantizer is structural and engine-portable, like [[signBucket]]),
    * each (block, code) cell gets an integer centroid (floor-scaled
    * component means, the [[signListCentroids]] arithmetic), and a
    * query scores every candidate from the m table lookups
    * Σⱼ ⟨qᵢ, centroid(j, codeⱼ)⟩ — never touching the stored floats
    * until the exact-cosine re-rank of the top `rerank` survivors.
    *
    * At 100 TB this is the FAISS IVFADC memory story: the compressed
    * scan reads m bytes of codes per vector instead of 4·dim bytes of
    * floats (here 8 longs vs 256 bytes), the per-query lookup table is
    * m·2^(dim/m) integers built once from the broadcast codebook, and
    * only `rerank` full vectors per query are fetched. The whole
    * pipeline is integer arithmetic plus one quantized-cosine re-rank,
    * so the DuckDB oracle reproduces it exactly (q174) — the
    * PQ counterpart of the sign-IVF oracle family (q44/q72/q134).
    *
    * Scoring is EXACT integer math end to end: components floor to
    * [[centroidScale]] longs, |qx·mc| ≤ dim·10⁸ ≈ 6.4·10⁹ fits a long
    * with 9 digits to spare, ADC ties break on neighbor_id, and the
    * re-rank uses the 1e-6-grid cosine key every oracle mirrors.
    */
  def pqAdcTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      m: Int = 8, rerank: Int = 64,
      corpusCount: Long = -1L): DataFrame = {
    val w = dim / m
    val corpusC = corpus.select(vecId.as("neighbor_id"), embedding.as("cv2"))
    val codeRows = pqCodeRows(corpusC, dim, m)
    val luts = pqLuts(
      pqQueryTable(queries, pqCodebook(codeRows), dim, m), m, w)
    // narrow compressed-domain scan: one kernel call scores each pair,
    // so only (query_id, neighbor_id, adc) ever reaches the ranking
    // exchange. The previous (sub, code)-keyed join + m-row
    // aggregation materialized |Q|·n·m rows through a 2^(dim/m)·m-key
    // shuffle — ~75 GB of spill at the 100× sweep point (n = 200 000,
    // |Q| = n/50) before dying on disk.
    val codesPacked = corpusC.select(col("neighbor_id"),
      array(pqBlocks(dim, m).map(b => signBucket(col("cv2"), b)): _*).as("codes"))
    // dispatch needs the corpus size; callers that already know it pass
    // it through (ADVICE r14) — the fallback count() collapses to the
    // scan's row count (no code evaluation), one lightweight job
    val n = if (corpusCount >= 0L) corpusCount else corpusC.count()
    adcRerank(adcScan(codesPacked, luts, w, m, n, rerank),
      queries, corpusC, k, rerank)
  }

  /** Byte budget below which the packed-codes side of the exhaustive
    * ADC scan broadcasts (r15, ADVICE r14: the old 4 M-ROW threshold
    * assumed m = 8 — a caller with larger m would have broadcast a
    * multi-GB side). Exactly 4 M vectors × 8·(m+1) B at m = 8 — the
    * old boundary expressed in bytes (ADVICE r15: the first cut used
    * 288 MiB = 301.99 MB, which silently moved the m = 8 boundary to
    * 4.19 M rows), so the m = 8 dispatch — the shape every plan pin
    * and sweep measured — is unchanged at every corpus size.
    */
  private[graft] val adcBroadcastBudgetBytes: Long = 4000000L * 72

  /** Exhaustive ADC scan of packed codes against per-query LUTs, with
    * the LOOP ORDER picked for cache locality (r14): the nested-loop
    * join's inner side is re-read per outer row, so the inner side
    * must be the one that stays cache-resident. Streaming the CORPUS
    * against broadcast LUTs touches |Q|·2^w·m·8 B of lookup tables
    * per corpus row — 64 MB at the sf10 sweep point, so every one of
    * the |pairs|·m lookups was a DRAM miss and the scan ran 1 478 s
    * where the SAME pair count through the cosine kernel (16 B of
    * per-query state) ran 16 s. When the packed codes fit the
    * broadcast budget (8·(m+1) B per vector — 12.8 MB at sf10),
    * stream the LUTS instead: each task's current 16 KB LUT is
    * L1-resident and the codes scan sequentially. Past the budget the
    * corpus-streamed shape is the only distribution that scales (LUT
    * side grows with |Q|, code side with n — at 100 TB the codes
    * cannot broadcast); r15 gives it the same locality via the
    * BLOCKED kernel scan ([[adcScanBlocked]]) instead of a row-at-a-
    * time nested-loop join. Result set identical either way
    * (spec-pinned both directions).
    */
  private def adcScan(
      codesPacked: DataFrame, luts: DataFrame, w: Int, m: Int,
      nCodes: Long, cut: Int): DataFrame = {
    val scored =
      if (nCodes * 8L * (m + 1) <= adcBroadcastBudgetBytes)
        broadcast(codesPacked).crossJoin(luts)
          .select(col("query_id"), col("neighbor_id"),
            GraftFunctions.adcLookupSum(col("codes"), col("lut"), w).as("adc"))
      else adcScanBlocked(codesPacked, luts, w, m, cut)
    scored.filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Corpus-streamed ADC scan for corpora past the broadcast budget,
    * with the r14 cache-locality property RESTORED by blocking (the
    * documented r14 future lever, now code) AND the top-k cut fused
    * into the kernel: each task buffers `adcBlockRows` packed code
    * rows (512 KB at m = 8 — L2-resident), scores the whole block
    * against one query LUT at a time (LUT-major, so the 16 KB table
    * is L1-resident instead of missing DRAM on every one of the
    * |pairs|·m lookups the row-at-a-time nested-loop join performed),
    * and offers each pair straight into that query's per-task
    * [[graft.expressions.TopKHeap]] — NO per-pair row ever exists
    * (a first cut that emitted every scored pair through the
    * object-encoder paid ~2 µs/pair of tuple+serialization overhead
    * and ran SLOWER than the DRAM-missing join it replaced —
    * SCALING.md r15; the fused kernel emits |Q|·tasks·cut rows total).
    *
    * Per-task top-`cut` under BoundedTopK's total order (score desc,
    * id asc) is a SUPERSET of the global top-`cut` members, and the
    * downstream bounded aggregate re-cuts — survivors are bit-
    * identical to the broadcast branch (spec-pinned). Self-pairs are
    * skipped in-kernel so they can never displace a real candidate
    * from a task cut. The LUT side is the per-query SERVING BATCH —
    * the same side the row-at-a-time shape broadcast, bounded by |Q|.
    *
    * The LUT regime is GUARDED by chunking (r16, VERDICT r15 #2: the
    * first cut collected the whole LUT set driver-side and allocated
    * |Q| heaps per task with no boundary behavior — 16 GB of driver
    * LUTs and 32 GB of task heaps at |Q| = 1 M): the serving batch is
    * split into ≤[[adcLutChunkBytes]] slices of contiguous query_ids,
    * and each slice runs its own corpus pass. Per-query heaps are
    * independent across queries, so a union of per-slice results IS
    * the single-pass result, row for row (spec-pinned with a forced
    * 1-LUT chunk size). Costs at the boundary: one extra 8 B/query
    * key-collect job, and one corpus scan per slice — the scan is the
    * cheap linear term next to the |Q|·n kernel work, which is
    * invariant under chunking (measured at the 328 MB/2-slice point,
    * SCALING.md r16). Driver LUT residency per pass, per-task heap
    * state, and the task-broadcast block are all ≤ the chunk budget.
    */
  private[graft] def adcScanBlocked(
      codesPacked: DataFrame, luts: DataFrame, w: Int, m: Int,
      cut: Int, lutChunkBytes: Long = adcLutChunkBytes): DataFrame = {
    val spark = codesPacked.sparkSession
    import spark.implicits._
    require(lutChunkBytes > 0, s"lutChunkBytes must be positive: $lutChunkBytes")
    // one LUT row = query_id + m·2^w table longs
    val lutRowBytes = 8L * ((m.toLong << w) + 1L)
    val maxRowsPerChunk = math.max(1L, lutChunkBytes / lutRowBytes)
      .min(Int.MaxValue).toInt
    // the id list is 8 B/query — collectable for any |Q| whose LUTs
    // could ever be materialized anywhere; sorted so chunk membership
    // is a contiguous id range (a cheap BETWEEN refetch) and per-task
    // heap indexing is deterministic
    val qids: Array[Long] = luts.select(col("query_id")).as[Long]
      .collect().sorted
    def scanChunk(lutRows: Array[(Long, Array[Long])]): DataFrame = {
      val bc = spark.sparkContext.broadcast(lutRows)
      codesPacked.select(col("neighbor_id"), col("codes"))
        .as[(Long, Array[Long])]
        .mapPartitions { it =>
          val qs = bc.value
          val heaps = Array.fill(qs.length)(new graft.expressions.TopKHeap(cut))
          val ids = new Array[Long](adcBlockRows)
          val flat = new Array[Long](adcBlockRows * m)
          it.grouped(adcBlockRows).foreach { blk =>
            val nRows = blk.size
            var i = 0
            blk.foreach { case (id, cs) =>
              ids(i) = id
              System.arraycopy(cs, 0, flat, i * m, m)
              i += 1
            }
            var qi = 0
            while (qi < qs.length) {
              graft.expressions.Kernels.adcBlockTopK(
                flat, ids, nRows, m, qs(qi)._2, w, qs(qi)._1, heaps(qi))
              qi += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
            val qid = qs(qi)._1
            h.sortedIndices.iterator.map(r => (qid, h.ids(r), h.scores(r)))
          }
        }
        .toDF("query_id", "neighbor_id", "adc")
    }
    def lutSlice(lo: Long, hi: Long, whole: Boolean): Array[(Long, Array[Long])] =
      (if (whole) luts else luts.filter(col("query_id").between(lo, hi)))
        .select(col("query_id"), col("lut")).as[(Long, Array[Long])]
        .collect().sortBy(_._1)
    if (qids.length <= maxRowsPerChunk)
      scanChunk(lutSlice(0L, 0L, whole = true))
    else
      qids.grouped(maxRowsPerChunk)
        .map(slice => scanChunk(lutSlice(slice.head, slice.last, whole = false)))
        .reduce(_ union _)
  }

  /** Per-pass LUT budget for [[adcScanBlocked]] — the same number as
    * [[adcBroadcastBudgetBytes]] (288 MB): past the r15 measured-good
    * 312 MB point the set outgrows any plausible LLC anyway, so extra
    * passes trade only the cheap corpus-scan term for bounded driver
    * and task memory.
    */
  private[graft] val adcLutChunkBytes: Long = 4000000L * 72

  /** Corpus rows buffered per kernel block: 8192 × m·8 B of codes
    * (512 KB at m = 8) keeps the block + one LUT inside L2 while the
    * LUT-major pass streams the table set once per block.
    */
  private val adcBlockRows: Int = 8192

  /** Persist the PQ index: per-vector code arrays (`m` longs — the
    * 8-bytes-per-vector table that makes PQ the memory-bounded path)
    * plus the integer codebook as a tiny side table. The FLOATS ARE
    * NOT COPIED: at 100 TB the originals stay in the lake and serving
    * fetches only the re-rank survivors from there — the index dir is
    * ~32× smaller than the corpus it serves. Codes are structural
    * (sign tests), so an append is encode-and-append with the same
    * sums-merge the sign-IVF index uses; no retraining.
    */
  def buildPqIndex(
      corpus: DataFrame, path: String, dim: Int, m: Int = 8): Unit = {
    val blocks = pqBlocks(dim, m)
    // concurrent independent writes (r16, [[BatchedIndex.inParallel]])
    BatchedIndex.inParallel(
      corpus.select(vecId.as("neighbor_id"),
          array(blocks.map(b => signBucket(embedding, b)): _*).as("codes"))
        .write.mode("overwrite").parquet(s"$path/codes"),
      pqCodebook(pqCodeRows(
          corpus.select(vecId.as("neighbor_id"), embedding.as("cv2")), dim, m))
        .coalesce(1) // ≤ m·2^(dim/m)·(dim/m) tiny rows — one file
        .write.mode("overwrite").parquet(s"$path/codebook"))
  }

  /** Serve from a persisted PQ index: lookup table from the stored
    * codebook, ADC scan over the stored codes, exact re-rank fetching
    * floats from `vectors` (the lake table the index was built from).
    * Identical to [[pqAdcTopK]] at equal parameters — q176 shares
    * q174's oracle, so index-serving ≡ in-flight is driver-checked.
    */
  def queryPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, vectors: DataFrame, k: Int, dim: Int,
      m: Int = 8, rerank: Int = 64): DataFrame = {
    val w = dim / m
    val luts = pqLuts(
      pqQueryTable(queries, spark.read.parquet(s"$path/codebook"),
        dim, m), m, w)
    // the stored codes are already packed (codes[j] = block j): the
    // same loop-order-dispatched kernel scan as [[pqAdcTopK]], its
    // dispatch count a parquet-footer row count on the bare index scan
    val codes = spark.read.parquet(s"$path/codes")
    val adc = adcScan(codes, luts, w, m, codes.count(), rerank)
    adcRerank(adc, queries,
      vectors.select(vecId.as("neighbor_id"), embedding.as("cv2")),
      k, rerank)
  }

  /** Persist the full IVFADC serving index — the FAISS on-disk shape:
    * per-list centroid VECTORS (the probe table), residual CODES
    * partitioned by list id (m longs per vector; the probe's list cut
    * becomes partition pruning on this table), and the residual
    * codebook. THE FLOATS ARE NOT COPIED: serving fetches only the
    * `rerank` survivors per query from the lake table the index was
    * built from — at 100 TB the index is ~32× smaller than the corpus
    * it serves, and a probe reads nProbe/2^bits of it.
    * [[queryIvfAdcIndex]] is value-identical to [[ivfAdcTopK]] at
    * equal parameters (q178 shares q175's oracle, so index-serving ≡
    * in-flight is driver-checked — the q72/q176 pattern).
    */
  def buildIvfAdcIndex(
      corpus: DataFrame, path: String, dim: Int, bits: Int = 7, m: Int = 8): Unit = {
    val spark = corpus.sparkSession
    val dims = quantDims(dim, bits)
    // a rebuild supersedes every prior generation INCLUDING append
    // batches (see buildSignIvfIndex)
    DurableSnapshots.delete(corpus, s"$path/codes")
    DurableSnapshots.delete(corpus, s"$path/codebook_sums")
    listCentroidVectors(signListCentroidSums(corpus, dims))
      .coalesce(1) // ≤ 2^bits tiny rows — one file
      .write.mode("overwrite").parquet(s"$path/centroids")
    // residual-encode against the STORED centroids (the same table
    // serving will read — one source of truth for the arithmetic)
    val lvecs = spark.read.parquet(s"$path/centroids")
    // persisted across the two write actions below (codes + codebook
    // sums), each of which would otherwise re-run the corpus scan +
    // centroid join + residual encode; bounded scope, so the blocks
    // free deterministically in the finally
    val corpusR = corpus
      .select(vecId.as("neighbor_id"), embedding.as("cv2"),
        signBucket(embedding, dims).as("list_id"))
      .join(broadcast(lvecs), Seq("list_id"))
      .select(col("neighbor_id"), col("list_id"),
        residual(col("cv2"), col("mvec")).as("rv"))
      .persist()
    try {
      val blocks = pqBlocks(dim, m)
      // the two writes are independent (different paths, both reading
      // the persisted corpusR) — run them concurrently (r16,
      // [[BatchedIndex.inParallel]]; torn-step posture unchanged)
      BatchedIndex.inParallel(
        corpusR
          .select(col("neighbor_id"), col("list_id"),
            array(blocks.map(b => signBucket(col("rv"), b)): _*).as("codes"))
          // explicit count so AQE can't fold the exchange to one
          // sequential writer task (see buildSignIvfIndex); width capped
          // by the session shuffle width (r16): [[BatchedIndex.writeWidth]]
          .repartition(BatchedIndex.writeWidth(spark, 1 << bits), col("list_id"))
          .write.mode("overwrite")
          .partitionBy("list_id").parquet(s"$path/codes/batch_id=${BatchedIndex.buildBatchId}"),
        // SUMS, not means: long sums merge associatively, so readers
        // fold the per-batch shards [[appendIvfAdcIndex]] writes into a
        // codebook bit-identical to a one-shot rebuild over the same
        // encoding (serving derives the means).
        residualCodebookSums(residualCodeRows(corpusR, dim, m))
          .coalesce(1) // ≤ m·2^(dim/m)·(dim/m) tiny rows — one file
          .write.mode("overwrite")
          .parquet(s"$path/codebook_sums/batch_id=${BatchedIndex.buildBatchId}"))
    } finally corpusR.unpersist()
  }

  /** Incrementally add a batch to a persisted IVFADC index — the FAISS
    * maintenance posture: the coarse quantizer is FROZEN at build time
    * (the stored centroids are never retrained), new vectors encode
    * residuals against those frozen centroids and append into their
    * `list_id` partitions, and the codebook SUMS merge associatively.
    * Batch vectors landing in a sign-list the build never saw encode
    * against the zero centroid (rv = ⌊v·scale⌋) — and stay unservable
    * until a rebuild, because the probe ranks only lists with stored
    * centroids; FAISS has the same property (a frozen quantizer cannot
    * probe a cell it does not know). Consequently append ≡ rebuild
    * does NOT hold here (a rebuild retrains centroids on the union);
    * what DOES hold, exactly, is ASSOCIATIVITY —
    * append(B); append(C) ≡ append(B ∪ C) — the invariant the spec
    * pins, and q179 value-checks the whole frozen-quantizer serving
    * arithmetic against the DuckDB oracle. Retrain policy is the
    * k-means story: rebuild when drift (measured by q130-style
    * composition deltas or falling recall on a canary set) warrants.
    */
  def appendIvfAdcIndex(
      batch: DataFrame, path: String, batchId: String,
      dim: Int, bits: Int = 7, m: Int = 8): Unit = {
    BatchedIndex.requireBatchId(batchId)
    val spark = batch.sparkSession
    val dims = quantDims(dim, bits)
    val lvecs = spark.read.parquet(s"$path/centroids")
    val zeroVec = array((1 to dim).map(_ => lit(0L)): _*)
    // persisted across codes-append + sums-merge (see buildIvfAdcIndex)
    val batchR = batch
      .select(vecId.as("neighbor_id"), embedding.as("cv2"),
        signBucket(embedding, dims).as("list_id"))
      .join(broadcast(lvecs), Seq("list_id"), "left")
      .select(col("neighbor_id"), col("list_id"),
        residual(col("cv2"), coalesce(col("mvec"), zeroVec)).as("rv"))
      .persist()
    try {
      val blocks = pqBlocks(dim, m)
      // concurrent independent writes (r16, [[BatchedIndex.inParallel]])
      BatchedIndex.inParallel(
        batchR
          .select(col("neighbor_id"), col("list_id"),
            array(blocks.map(b => signBucket(col("rv"), b)): _*).as("codes"))
          // width capped by the session shuffle width (r16):
          // [[BatchedIndex.writeWidth]]
          .repartition(BatchedIndex.writeWidth(spark, 1 << bits), col("list_id"))
          .write.mode("overwrite")
          .partitionBy("list_id").parquet(s"$path/codes/batch_id=$batchId"),
        // the batch's own codebook-sums shard; readers fold shards by
        // summing. Idempotent/crash-safe like appendSignIvfIndex (r10):
        // both writes overwrite only this batch's subdirs, so recovery
        // from any crash is re-running the same (batch, batchId) call —
        // no double-appended code rows, no swap window without a durable
        // sums copy.
        residualCodebookSums(residualCodeRows(batchR, dim, m))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/codebook_sums/batch_id=$batchId"))
    } finally batchR.unpersist()
  }

  /** Compact an IVFADC index's per-append file accretion (VERDICT r9
    * #3): each append adds up to 2^bits list files plus a codebook-sums
    * shard — the [[PartitionedLake.compact]] problem in index clothing.
    * Codes re-shuffle to exactly one file per list partition and the
    * codebook-sums shards fold to one, leaving served results
    * bit-identical (ties break on neighbor_id, never on row order).
    * The frozen centroids table is build-only (never fragmented) and
    * is left untouched. Note for [[ivfAdcServabilityAudit]] readers:
    * compaction folds appended generations into `batch_id=base`, so
    * the audit's built/appended split resets at each compaction —
    * per-list totals and servability are unaffected (spec-pinned).
    */
  def compactIvfAdcIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, bits: Int = 7): Unit =
    // the two tables compact independently (r16,
    // [[BatchedIndex.inParallel]]; a torn compaction of either still
    // recovers via recoverDir + re-run, and the generation-equality
    // assert covers every torn combination)
    BatchedIndex.inParallel(
      BatchedIndex.compactTable(spark, s"$path/codes",
        partitionCol = Some(("list_id", 1 << bits))),
      BatchedIndex.compactTable(spark, s"$path/codebook_sums",
        sumKeys = Some(Seq("sub", "code", "pp"))))

  /** Operational servability audit for a frozen-quantizer IVFADC index
    * (VERDICT r9 #4) — the rebuild-trigger artifact: one row per
    * occupied list with its build-time and appended row counts plus
    * whether the list is SERVABLE (a stored centroid with direction
    * exists — the probe can rank it). Appends into lists the build
    * never saw are unprobeable until a rebuild (the frozen-quantizer
    * property q179 documents), and drifting occupancy
    * (appended ≫ built in a few lists) degrades both probe quality and
    * scan balance — this report is what a serving team watches to
    * decide when the retrain is due, the q141 partition-reconcile
    * posture applied to the index. Reads only the index (codes
    * partition counts + the tiny centroids table), never the float
    * corpus.
    */
  def ivfAdcServabilityAudit(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val codes = spark.read.parquet(s"$path/codes")
    val counts = codes.groupBy(col("list_id"))
      .agg(
        sum(when(col("batch_id") === BatchedIndex.buildBatchId, 1L).otherwise(0L))
          .as("built_rows"),
        sum(when(col("batch_id") =!= BatchedIndex.buildBatchId, 1L).otherwise(0L))
          .as("appended_rows"))
    val servable = signListCentroidsFromVectors(
        spark.read.parquet(s"$path/centroids"))
      .select(col("list_id"), lit(true).as("__servable"))
    counts.join(servable, Seq("list_id"), "left")
      // partition-column inference types list_id INT on the codes read
      // while the centroids side stores LONG — pin the report to LONG
      // so its schema never depends on which side a row came from
      .select(col("list_id").cast("long").as("list_id"),
        col("built_rows"), col("appended_rows"),
        coalesce(col("__servable"), lit(false)).as("servable"))
  }

  /** Serve from a persisted IVFADC index: probe the stored centroids,
    * scan ONLY the probed `list_id` partitions of the code table, ADC
    * with the stored codebook, fetch floats from `vectors` (the lake
    * table) for the exact re-rank of the top `rerank`. Identical
    * arithmetic to [[ivfAdcTopK]] at equal parameters.
    */
  def queryIvfAdcIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, vectors: DataFrame, k: Int, dim: Int,
      bits: Int = 7, nProbe: Int = 48, m: Int = 8, rerank: Int = 64): DataFrame = {
    // loud torn-append/compaction detection (r10): a codes generation
    // without its codebook-sums shard would serve silently-shifted ADC
    // scores — fail naming the recovery instead (pure dir listing)
    BatchedIndex.assertConsistentBatches(spark, s"$path/codes", s"$path/codebook_sums")
    // the stored codes are already packed (codes[j] = block j) and
    // partitioned by list_id, so the probe's list cut reaches the scan
    // as dynamic partition pruning
    probedAdcTopK(queries,
      spark.read.parquet(s"$path/codes"),
      signListCentroidsFromVectors(spark.read.parquet(s"$path/centroids")),
      residualCodebookFromSums(BatchedIndex.foldSums(
        spark.read.parquet(s"$path/codebook_sums"), Seq("sub", "code", "pp"))),
      vectors.select(vecId.as("neighbor_id"), embedding.as("cv2")),
      k, dim, nProbe, m, rerank)
  }

  /** The probed-ADC serving tail of [[ivfAdcTopK]] and
    * [[queryIvfAdcIndex]] — one implementation, so index-serving ≡
    * in-flight is structural. `codes` is the packed code table
    * (neighbor_id, list_id, codes), `cents` the probe-facing centroid
    * table, `codebook` the residual cell means (sub, code, pp, mc) and
    * `floats` the (neighbor_id, cv2) source of the exact rerank.
    *
    * The exact half of the residual decomposition, lc = ⟨⌊q·scale⌋, c_L⟩
    * per (query, probed list), rides out of the probe as s2
    * ([[centroidProbeRanks]]), which computes the identical integer dot
    * product for its ranking. The lookup table scores RAW query
    * components against the RESIDUAL codebook (⟨q, r̂_v⟩ — the quantized
    * half).
    *
    * The IVF cut AND the scoring run in ONE streamed pass: the probed
    * (query, list, lc) relation — |Q|·nProbe rows, bounded by the
    * serving batch — BROADCASTS onto the code table's list_id, so
    * candidate pairs are born next to their codes and score inline
    * against the broadcast LUTs; the first exchange any pair-derived
    * row crosses is the BoundedTopK heap cut. Shuffling the pair stream
    * instead (onto the codes' neighbor_id and onto the list-constant
    * keys) spilled past 71 GB of free disk at the sf30 probe point
    * (|Q| = n/50, 43.8% probed fraction → 3.15 B candidate rows); at
    * 100 TB a candidate stream ∝ |Q|·n must NEVER cross an exchange.
    */
  private def probedAdcTopK(
      queries: DataFrame, codes: DataFrame, cents: DataFrame, codebook: DataFrame,
      floats: DataFrame, k: Int, dim: Int, nProbe: Int, m: Int, rerank: Int): DataFrame = {
    val sc = pqQueryTable(queries, codebook, dim, m)
    val listConst = centroidProbe(queries, cents, nProbe, withQv = false)
      .select(col("query_id"), col("list_id"), col("s2").as("lc"))
    val w = dim / m
    val luts = pqLuts(sc, m, w)
    val adc = codes
      .join(broadcast(listConst), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(luts), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (GraftFunctions.adcLookupSum(col("codes"), col("lut"), w) + col("lc"))
          .as("adc"))
    adcRerank(adc, queries, floats, k, rerank)
  }

  /** IVFADC — the FAISS-default composition: the sign-IVF centroid
    * probe cuts candidates to the `nProbe` nearest lists (sub-linear
    * candidate generation), then PQ/ADC scores ONLY those candidates
    * in the compressed domain, and the exact re-rank touches `rerank`
    * vectors per query. Every stage is the already-oracle-checked
    * arithmetic of its parent operator (q44's probe, q174's ADC), so
    * the composition is value-checked end to end too (q175).
    *
    * RESIDUAL ENCODING (r9, canonical IVFADC): corpus vectors are PQ-
    * coded as residuals against their OWN list's integer centroid —
    * rv = ⌊v·scale⌋ − centroid(list(v)) — and the codebook is trained
    * on those residuals, whose spread is a fraction of the raw
    * vectors' (the list centroid already explains the coarse
    * position). For the inner-product affinity this ADC approximates,
    * the score decomposes exactly as ⟨q, v⟩ ≈ ⟨q, c_L⟩ + ⟨q, r_v⟩:
    * the first term is computed EXACTLY per (query, probed list) —
    * integer dot against the stored centroid — and only the small
    * residual term is quantized (the FAISS inner-product residual
    * rule: the query is NOT residualized). Lifted measured recall@5
    * at sf0.1 from 0.77 (raw-vector codes, r8) to ≥0.80 at unchanged
    * probe/rerank budgets. All arithmetic stays integer-exact, so the
    * DuckDB oracle reproduces every stage.
    *
    * At 100 TB: the probe reads nProbe/2^bits of the code table (codes
    * are m bytes/vector, so even the probed fraction is ~32× smaller
    * than the float corpus), the codebook, centroid, and lookup tables
    * are broadcast-sized, and float I/O is rerank·|Q| vectors.
    */
  def ivfAdcTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 7, nProbe: Int = 48, m: Int = 8, rerank: Int = 64,
      checkpointDir: Option[String] = None): DataFrame = {
    val dims = quantDims(dim, bits)
    val corpusC = corpus.select(vecId.as("neighbor_id"), embedding.as("cv2"),
      signBucket(embedding, dims).as("list_id"))
    // One corpus pass builds the per-list centroid VECTORS (≤ 2^bits
    // rows), materialized once: the probe references it on both sides
    // of its pairwise rank, and residual encoding joins it into every
    // corpus row.
    val lvecs = DurableSnapshots.truncate(
      listCentroidVectors(signListCentroidSums(corpus, dims)),
      checkpointDir, "ivfadc_centroids")
    val cents = signListCentroidsFromVectors(lvecs)
    // integer residuals: rv = ⌊v·scale⌋ − centroid(list(v))
    val corpusR = corpusC
      .join(broadcast(lvecs.select(col("list_id"), col("mvec"))), Seq("list_id"))
      .select(col("neighbor_id"), col("list_id"),
        residual(col("cv2"), col("mvec")).as("rv"))
    // materialize the code rows ONCE: the codebook aggregation and the
    // ADC scan both consume them, and without truncation each re-runs
    // the full corpus residual-encode pass (scan + centroid join +
    // per-row kernel) inside one plan tree. m small-int rows per
    // vector — the snapshot IS the compressed index, ~32× smaller than
    // the float corpus. Durable mode: outlives the call like the
    // centroid snapshot (the returned frame reads it; caller/TTL
    // frees).
    val codeRows = DurableSnapshots.truncate(
      residualCodeRows(corpusR, dim, m), checkpointDir, "ivfadc_codes")
    probedAdcTopK(queries, packCodes(codeRows), cents, residualCodebook(codeRows),
      corpusC.select(col("neighbor_id"), col("cv2")),
      k, dim, nProbe, m, rerank)
  }

  /** [[pqCodeRows]] for integer RESIDUAL vectors: one row per corpus
    * sub-vector with its sign code and block slice. Input `corpusR`
    * exposes (neighbor_id, list_id, rv: array<long>).
    */
  private def residualCodeRows(corpusR: DataFrame, dim: Int, m: Int): DataFrame = {
    val w = dim / m
    val subStructs = pqBlocks(dim, m).zipWithIndex.map { case (b, j) =>
      struct(lit(j).as("sub"), signBucket(col("rv"), b).as("code"),
        slice(col("rv"), j * w + 1, w).as("sv"))
    }
    corpusR
      .select(col("neighbor_id"), col("list_id"),
        explode(array(subStructs: _*)).as("s"))
      .select(col("neighbor_id"), col("list_id"), col("s.sub").as("sub"),
        col("s.code").as("code"), col("s.sv").as("sv"))
  }

  /** Recall-vs-nProbe calibration for the sign-IVF ANN family — the
    * operational artifact a serving team reads to pick a probe budget:
    * for each grid point, recall@k of (a) sign-IVF (exact cosine
    * inside probed lists) and (b) residual IVFADC (compressed-domain
    * ADC + rerank cut) against brute-force ground truth. Output one
    * row per (family, n_probe): integer `hits` (ANN∩truth pairs) and
    * `n_pairs` (truth pairs) — recall = hits/n_pairs, kept as exact
    * integers so the whole curve is oracle-checkable (q177).
    *
    * ONE shared computation serves the sweep: probe ranks (`nbetter`),
    * candidate cosines, and ADC scores are all nProbe-independent —
    * [[centroidProbeRanks]]' cut-free ranking is computed once at the
    * WIDEST budget and each grid point is a filter + window over the
    * materialized intermediates. The sweep costs ~one IVFADC run plus
    * the ground truth, not |grid| independent runs — the property that
    * makes calibration affordable to re-run as the corpus drifts.
    * (Ground truth is the documented brute-force baseline; calibrate
    * on a query SAMPLE at scale, like every recall evaluation.)
    *
    * `maxQueries` makes "calibrate on a query sample at scale"
    * executable instead of advisory: when set, the sweep runs over a
    * deterministic hash-priority sample of that many queries (the
    * [[Sampling]] posture — no RNG, rerun-stable; the priority hash is
    * md5 of the id string, which BOTH engines implement identically, so
    * the sampled sweep is itself oracle-checkable — q199), so the
    * sweep's dominant cost — brute-force ground truth, |Q|·n — stays
    * FIXED as the corpus grows and the whole calibration is ~linear in
    * n. Recall estimated from a few hundred queries is how every ANN
    * benchmark reports it; `None` (the default, and q177's pinned
    * oracle form) sweeps every query.
    */
  def recallProbeCurve(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int, probeGrid: Seq[Int], m: Int = 8, rerank: Int = 96,
      checkpointDir: Option[String] = None,
      maxQueries: Option[Int] = None): DataFrame = {
    require(probeGrid.nonEmpty, "probeGrid must not be empty")
    require(maxQueries.forall(_ > 0), s"maxQueries must be positive: $maxQueries")
    val qIn = maxQueries match {
      case Some(mq) =>
        // deterministic TakeOrdered sample, materialized once — the
        // frame is referenced by truth, probe, lookup-table, and
        // list-constant subtrees, and each reference would re-run the
        // sort-limit otherwise
        DurableSnapshots.truncate(
          queries.orderBy(md5(vecId.cast("string")), vecId).limit(mq),
          checkpointDir, "recall_qsample")
      case None => queries
    }
    val queriesS = qIn
    val maxP = probeGrid.max
    val dims = quantDims(dim, bits)
    val corpusC = corpus.select(vecId.as("neighbor_id"), embedding.as("cv2"),
      signBucket(embedding, dims).as("list_id"))
    val lvecs = DurableSnapshots.truncate(
      listCentroidVectors(signListCentroidSums(corpus, dims)),
      checkpointDir, "recall_centroids")
    val cents = signListCentroidsFromVectors(lvecs)
    val ranks = DurableSnapshots.truncate(
      centroidProbeRanks(queriesS, cents)
        .filter(col("nbetter") < maxP),
      checkpointDir, "recall_ranks")
    // widest-budget candidate pool, exact cosine attached ONCE
    val cands = DurableSnapshots.truncate(
      ranks.join(corpusC, Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("list_id"), col("nbetter"),
          VectorFunctions.cosine(col("qv"), col("cv2")).as("cosine")),
      checkpointDir, "recall_cands")
    val truth = DurableSnapshots.truncate(
      bruteForceTopK(queriesS, corpus, k)
        .select(col("query_id"), col("neighbor_id")),
      checkpointDir, "recall_truth")
    // residual ADC scores over the widest pool (also nProbe-independent)
    val corpusR = corpusC
      .join(broadcast(lvecs.select(col("list_id"), col("mvec"))), Seq("list_id"))
      .select(col("neighbor_id"), col("list_id"),
        residual(col("cv2"), col("mvec")).as("rv"))
    val codeRows = DurableSnapshots.truncate(
      residualCodeRows(corpusR, dim, m), checkpointDir, "recall_codes")
    val sc = pqQueryTable(queriesS, residualCodebook(codeRows), dim, m)
    // lc rides out of the probe as s2 (r16, [[centroidProbeRanks]]) —
    // the materialized ranks snapshot already carries it per
    // (query, list), so the qi ⋈ centroid-vectors re-derivation is gone
    val listConst = ranks.select(col("query_id"), col("list_id"),
      col("s2").as("lc"))
    // narrow kernel scoring (see [[ivfAdcTopK]]): packed codes ×
    // broadcast per-query LUTs, exchanges carry ids + one long
    val w = dim / m
    val luts = pqLuts(sc, m, w)
    val adcAll = DurableSnapshots.truncate(
      cands.select(col("query_id"), col("neighbor_id"), col("list_id"), col("nbetter"))
        // join key includes list_id since packCodes carries it (r15) —
        // a candidate's list IS its vector's list, so the key change is
        // a no-op on the pair set and avoids a duplicate column
        .join(packCodes(codeRows), Seq("neighbor_id", "list_id"))
        .join(broadcast(luts), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("list_id"), col("nbetter"),
          GraftFunctions.adcLookupSum(col("codes"), col("lut"), w).as("rs"))
        .join(listConst, Seq("query_id", "list_id"))
        .select(col("query_id"), col("neighbor_id"), col("nbetter"),
          (col("rs") + col("lc")).as("adc")),
      checkpointDir, "recall_adc")
    // One pass per family for the WHOLE grid: explode each candidate
    // row once per grid point that admits it, window over
    // (query, n_probe) — 2 window jobs total instead of 2·|grid|
    // (measured ~2× on q177: the per-point loop's cost was job
    // scheduling, not data volume).
    val gridLit = array(probeGrid.map(lit(_)): _*)
    def withGrid(df: DataFrame): DataFrame =
      df.withColumn("n_probe", explode(gridLit))
        .filter(col("nbetter") < col("n_probe"))
    val wCosG = Window.partitionBy(col("query_id"), col("n_probe"))
      .orderBy(rankKey(col("cosine")).desc, col("neighbor_id"))
    val wAdcG = Window.partitionBy(col("query_id"), col("n_probe"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    // sign-IVF per budget: cosine top-k inside each cut pool
    val signHits = withGrid(cands)
      .withColumn("rank", row_number().over(wCosG))
      .filter(col("rank") <= k)
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
      .select(lit("sign_ivf").as("family"), col("n_probe"), col("hits"))
    // IVFADC per budget: ADC rerank-cut, then cosine top-k
    val adcHits = withGrid(adcAll)
      .withColumn("r", row_number().over(wAdcG))
      .filter(col("r") <= rerank)
      .select(col("query_id"), col("neighbor_id"), col("n_probe"))
      .join(cands.select(col("query_id"), col("neighbor_id"), col("cosine")),
        Seq("query_id", "neighbor_id"))
      .withColumn("rank", row_number().over(wCosG))
      .filter(col("rank") <= k)
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
      .select(lit("ivfadc").as("family"), col("n_probe"), col("hits"))
    // grid × family scaffold so zero-hit points still emit a row
    val sess = queries.sparkSession
    import sess.implicits._
    val scaffold = probeGrid.toDF("n_probe")
      .crossJoin(Seq("sign_ivf", "ivfadc").toDF("family"))
    scaffold
      .join(signHits.unionByName(adcHits), Seq("family", "n_probe"), "left")
      .select(col("family"), col("n_probe"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_pairs"))))
      .select(col("family"), col("n_probe"), col("hits"), col("n_pairs"))
  }

  /** Residual-codebook SUMS per (sub, code, pp): what an INCREMENTAL
    * index stores — long sums are exactly associative, so
    * append-merged sums equal one-shot sums bit-for-bit (the q134
    * property applied to the PQ codebook).
    */
  private def residualCodebookSums(codeRows: DataFrame): DataFrame =
    codeRows
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pp0", "x")))
      .groupBy(col("sub"), col("code"), (col("pp0") + 1).as("pp"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))

  /** Integer cell means from the stored sums (engine-neutral floor
    * division — see [[signListCentroids]]).
    */
  private def residualCodebookFromSums(sums: DataFrame): DataFrame =
    sums
      .withColumn("mc", expr("(s - ((s % cnt) + cnt) % cnt) DIV cnt"))
      .select(col("sub"), col("code"), col("pp"), col("mc"))

  /** [[pqCodebook]] over residual code rows: the components are
    * ALREADY integer (no floor-scaling), so cells are plain integer
    * means by the engine-neutral floor division.
    */
  private def residualCodebook(codeRows: DataFrame): DataFrame =
    residualCodebookFromSums(residualCodebookSums(codeRows))

  /** Retrieval-RANKING quality next to [[recallProbeCurve]]'s set
    * quality: per query, the reciprocal rank of the best relevant item
    * inside a ranked retrieval result (MRR is the mean of `rr_ppm`
    * over queries — left as exact per-query integers so the whole
    * artifact is oracle-hashable, q185). Recall says whether the truth
    * was retrieved at all; this says how FAR DOWN the list it sat —
    * the number that decides k for a RAG serving cut.
    *
    * Pure eval combinator: `ann` is any ranked result (query_id,
    * neighbor_id, rank) — sign-IVF, IVFADC, LSH, a persisted index —
    * and `truth` the relevant (query_id, neighbor_id) pairs. One
    * equi-join on the pair key + one aggregate; both sides are
    * k-rows-per-query artifacts, so the eval never touches corpus
    * volume. Queries with relevant pairs but no ANN hit grade
    * found = 0 / rr_ppm = 0 (the miss is data, not an error); queries
    * absent from `truth` are ungraded by construction.
    */
  def retrievalMrr(ann: DataFrame, truth: DataFrame): DataFrame = {
    truth.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id"), col("rank")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_relevant"), min(col("rank")).as("__best"))
      .withColumn("found", when(col("__best").isNull, 0L).otherwise(1L))
      .withColumn("rr_ppm", when(col("__best").isNull, 0L)
        .otherwise(expr("CAST(1000000 DIV __best AS BIGINT)")))
      .drop("__best")
  }

  /** Bounded evaluation query set for the retrieval-quality metrics
    * (r15, the sf30 probe's one super-linear find): an eval whose
    * query set grows WITH the corpus is quadratic by construction —
    * exact ground truth costs |Q|·n cosines and the occupancy-tuned
    * probe's candidate stream is ∝ 0.438·|Q|·n, so q185 measured 6.6×
    * at 3× the data (SCALING.md r15). MRR/recall are MEANS over
    * queries: a fixed-size deterministic sample estimates them
    * unbiased at any corpus size — the measurement cost becomes
    * cap·n, linear in the corpus like every serving query.
    *
    * IDENTITY when |Q| ≤ cap, so every driver-gated scale and the
    * sf10 standing digests are byte-stable (the autoQuantBits
    * design: auto-scaling engages only past the scales the oracle
    * pins). Past the cap: the `cap` queries with the smallest
    * (xxhash64(id), id) — a deterministic, content-independent,
    * rerun-stable choice computed by TakeOrdered over the
    * queries-sized frame (never corpus volume).
    */
  def evalQuerySample(
      queries: DataFrame, cap: Int = 4096): DataFrame = {
    require(cap > 0, s"evalQuerySample: cap must be positive (got $cap)")
    // decide the identity branch from a cap+1-row probe, not a full
    // count (ADVICE r15): the common ≤cap case — every gated scale —
    // previously paid one extra job that recomputed the whole queries
    // lineage (a corpus-side filter for q185) just to learn |Q| ≤ cap.
    // limit(cap+1) terminates the scan as soon as cap+1 rows exist,
    // and the branch taken is identical for any |Q|.
    if (queries.limit(cap + 1).count() <= cap) queries
    else queries.orderBy(xxhash64(vecId), vecId).limit(cap)
  }
}
