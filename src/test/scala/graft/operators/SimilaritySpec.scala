package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.xxhash64

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  // 4 unit-ish vectors: 1≈2 (same direction), 3 orthogonal, 4 opposite
  private def corpus = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), "x"),
    (2L, Array(0.9f, 0.1f, 0.0f), "x"),
    (3L, Array(0.0f, 1.0f, 0.0f), "y"),
    (4L, Array(-1.0f, 0.0f, 0.0f), "y"),
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK: nearest neighbor of v1 is v2, farthest is v4") {
    val q = corpus.filter($"vec_id" === 1L)
    val out = Similarity.bruteForceTopK(q, corpus, k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(2L, 3L, 4L))
    assert(out.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
  }

  test("bruteForceTopK excludes the query itself") {
    val q = corpus.filter($"vec_id" === 1L)
    val out = Similarity.bruteForceTopK(q, corpus, k = 4).collect()
    assert(!out.map(_.getAs[Long]("neighbor_id")).contains(1L))
  }

  test("knnLabel: majority label among k nearest") {
    // neighbors of v1 at k=3: v2(x), v3(y), v4(y) → y wins 2:1
    val q = corpus.filter($"vec_id" === 1L)
    val out = Similarity.knnLabel(q, corpus, k = 3).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("predicted_label") === "y")
    assert(out.head.getAs[Long]("votes") === 2L)
  }

  test("semanticDecontaminate: near-copies of a benchmark vector flagged, orthogonal/opposite not") {
    // bench = v1 = (1,0,0); train: v2 at cosine 0.9937 (flagged at the
    // 0.95 grid threshold), v3 orthogonal, v4 opposite (clean)
    val bench = corpus.filter($"vec_id" === 1L)
    val train = corpus.filter($"vec_id" =!= 1L)
    val out = Similarity.semanticDecontaminate(train, bench, thresholdE6 = 950000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((2L, 1L)))
    // empty bench set: nothing flagged, no crash
    assert(Similarity.semanticDecontaminate(train,
      corpus.filter($"vec_id" < 0), 950000L).count() === 0L)
  }

  test("semanticDecontaminateBlocked: subset of the exact screen, byte-identical plants always caught") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val bench = e.filter($"vec_id" % 7 === 0)
    val plants = bench.withColumn("vec_id", $"vec_id" + 600000L)
    val train = e.filter($"vec_id" % 7 =!= 0).unionByName(plants)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val exact = ids(Similarity.semanticDecontaminate(train, bench, 950000L))
    val blocked = ids(Similarity.semanticDecontaminateBlocked(train, bench,
      950000L, dim = 64, bits = 7))
    assert(blocked.subsetOf(exact),
      "the block join can only MISS matches, never invent them")
    val plantIds = ids(plants.select($"vec_id"))
    assert(plantIds.subsetOf(blocked),
      "a byte-identical leak shares its source's sign list — always caught")
  }

  test("resolveEmbeddingNearDups collapses duplicate vectors to min id") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // exact dup of 1
      (3L, Array(0.99f, 0.01f, 0.0f)), // near dup of 1
      (7L, Array(0.0f, 1.0f, 0.0f)),   // singleton
    ).toDF("vec_id", "embedding")
    val resolved = Similarity.resolveEmbeddingNearDups(vecs, threshold = 0.99, dim = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved(1L) === 1L && resolved(2L) === 1L && resolved(3L) === 1L)
    assert(resolved(7L) === 7L)
    // reliable-checkpoint mode matches local-mode truncation exactly
    // (same contract as Dedup.resolveNearDups)
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_ckpt").toString
    val reliable = Similarity.resolveEmbeddingNearDups(vecs, threshold = 0.99,
        dim = 3, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === resolved)
  }

  test("sign-bit ANN variants: useful recall, and index ≡ in-flight") {
    // the oracle-portable candidates (q31/q44/q72): weaker quantizers
    // than random-plane LSH or k-means IVF by design, but they
    // must stay genuinely approximate-USEFUL, not just deterministic.
    // Measured r4: signLsh 0.74 @ sf0.01 / 0.73 @ sf0.1. signIvf r7
    // probes by integer-centroid proximity (was multi-probe flip
    // costs) at the unchanged 48-of-128 budget — measured recall@5
    // 0.72/0.72 → 0.86/0.79 (sf0.01/sf0.1), so the gate rises
    // 0.70 → 0.80. Fully deterministic: the measurement cannot drift
    // without a code change.
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
    val lsh = pairs(Similarity.signLshTopK(q, e, 5, nTables = 8, planesPerTable = 4))
    assert(lsh.intersect(exact).size.toDouble / exact.size >= 0.6,
      "sign-LSH recall@5 below the 0.6 gate")
    val ivf = Similarity.signIvfTopK(q, e, 5, dim = 64, bits = 7, nProbe = 48)
    assert(pairs(ivf).intersect(exact).size.toDouble / exact.size >= 0.80,
      "sign-IVF recall@5 below the 0.80 gate")
    val dir = java.nio.file.Files.createTempDirectory("graft_sign_ivf").toString
    Similarity.buildSignIvfIndex(e, dir, dim = 64, bits = 7)
    val served = Similarity.querySignIvfIndex(spark, dir, q, k = 5, dim = 64,
      bits = 7, nProbe = 48)
    assert(served.orderBy("query_id", "rank").collect().toSeq ===
      ivf.orderBy("query_id", "rank").collect().toSeq,
      "persisted sign-IVF index must serve the exact in-flight result")
    // probed lists must prune at the partition level
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters"),
      s"probed sign-list scan should carry a partition filter:\n$plan")
  }

  test("pqAdcTopK: recall@5 >= 0.85 at sf0.01, codes beat the sign-IVF gate") {
    // PQ/ADC (q174): compressed-domain scan + exact re-rank of the top
    // 64. Measured recall@5: 1.00/0.93/0.88 at sf0.001/0.01/0.1 —
    // above the sign-IVF path at the same oracle-portable determinism.
    // Fully deterministic: the measurement cannot drift without a code
    // change.
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
    val pq = pairs(Similarity.pqAdcTopK(q, e, 5, dim = 64, m = 8, rerank = 64))
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"PQ/ADC recall@5 $recall below the 0.85 gate")
    // shrinking the re-rank budget must degrade gracefully, not break
    val pq32 = pairs(Similarity.pqAdcTopK(q, e, 5, dim = 64, m = 8, rerank = 32))
    assert(pq32.intersect(exact).size.toDouble / exact.size >= 0.7,
      "PQ/ADC at rerank=32 below the 0.7 floor")
  }

  test("evalQuerySample: identity at or below the cap; deterministic fixed-size subset past it") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    // at/below the cap the input comes back unchanged (the gated-scale
    // and sf10-digest stability contract)
    val small = e.filter($"vec_id" % 50 === 0)
    assert(ids(Similarity.evalQuerySample(small, cap = 4096)) === ids(small))
    // past the cap: exactly cap rows, a subset of the input, stable
    // across reruns and partitionings (no RNG anywhere)
    val s1 = ids(Similarity.evalQuerySample(e, cap = 37))
    val s2 = ids(Similarity.evalQuerySample(e.repartition(13), cap = 37))
    assert(s1.length === 37)
    assert(s1 === s2)
    assert(s1.toSet.subsetOf(ids(e).toSet))
  }

  test("adcScan dispatch: blocked kernel ≡ broadcast-codes branch bit-exactly, both directions pinned") {
    // r15: past the byte budget the exhaustive ADC scan runs the
    // blocked corpus-streamed kernel (LUT-major over L2-resident code
    // blocks) instead of broadcasting the codes. The corpus count is
    // ONLY a dispatch input, so forcing it past the budget routes the
    // IDENTICAL data through the blocked path — results must match the
    // broadcast branch bit-for-bit, and each direction must plan its
    // own shape (the q174 PlanPropertiesSpec pin covers the broadcast
    // direction at catalog scale).
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bcast = Similarity.pqAdcTopK(q, e, 5, dim = 64, m = 8, rerank = 64)
    val forced = Similarity.pqAdcTopK(q, e, 5, dim = 64, m = 8, rerank = 64,
      corpusCount = Similarity.adcBroadcastBudgetBytes / (8L * 9) + 1)
    val pb = bcast.queryExecution.executedPlan.toString
    val pf = forced.queryExecution.executedPlan.toString
    assert(pb.contains("BroadcastNestedLoopJoin"),
      s"below the budget the packed codes must broadcast:\n$pb")
    assert(!pf.contains("BroadcastNestedLoopJoin"),
      s"past the budget nothing may nested-loop join:\n$pf")
    assert(pf.contains("MapPartitions"),
      s"past the budget the scan must run the blocked kernel:\n$pf")
    assert(rows(forced) === rows(bcast))
  }

  test("adcScanBlocked: LUT-chunked passes ≡ single pass row-for-row (r16 regime guard)") {
    // r16 (VERDICT r15 #2): past adcLutChunkBytes the serving batch no
    // longer collects/broadcasts as one piece — it splits into
    // contiguous-query_id slices, one corpus pass each. Per-query heaps
    // are independent across queries, so the union must equal the
    // single-pass result EXACTLY. Forcing lutChunkBytes below one LUT
    // row makes every slice a single query — the maximal split — and a
    // mid-size budget exercises a multi-query slice boundary.
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dim = 64; val m = 8; val w = dim / m
    val corpusC = e.select($"vec_id".as("neighbor_id"), $"embedding".as("cv2"))
    val codes = corpusC.select(
      org.apache.spark.sql.functions.col("neighbor_id"),
      org.apache.spark.sql.functions.array(
        Similarity.pqBlocks(dim, m).map(b =>
          Similarity.signBucket(org.apache.spark.sql.functions.col("cv2"), b)): _*
      ).as("codes"))
    val q = e.filter($"vec_id" % 25 === 0)
    val luts = Similarity.pqLuts(
      Similarity.pqQueryTable(q,
        Similarity.pqCodebook(Similarity.pqCodeRows(corpusC, dim, m)),
        dim, m), m, w)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = rows(Similarity.adcScanBlocked(codes, luts, w, m, 8))
    val oneLutRow = 8L * ((m.toLong << w) + 1L)
    val maxSplit = rows(Similarity.adcScanBlocked(codes, luts, w, m, 8,
      lutChunkBytes = 1L))
    val midSplit = rows(Similarity.adcScanBlocked(codes, luts, w, m, 8,
      lutChunkBytes = 3L * oneLutRow))
    assert(single.nonEmpty)
    assert(maxSplit === single)
    assert(midSplit === single)
  }

  test("ivfAdcTopK: recall@5 >= 0.9 at sf0.01, bounded by its IVF cut") {
    // IVFADC (q175) = q44's probe ∘ residual ADC: recall can never
    // exceed the probe's candidate cut, and with RESIDUAL codes (r9)
    // the ADC stage costs almost nothing on top of it — measured
    // 0.96/0.94/0.825 at sf0.001/0.01/0.1 at the 56-list budget vs the
    // probe-only ceiling 0.94/0.835 (sf0.01/0.1); r8 raw-vector codes
    // sat at 0.86/0.77. Deterministic: cannot drift without a code
    // change.
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
    val ivfadc = pairs(Similarity.ivfAdcTopK(q, e, 5, dim = 64, bits = 7,
      nProbe = 56, m = 8, rerank = 96))
    val recall = ivfadc.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVFADC recall@5 $recall below the 0.9 gate")
    // the composition's survivors are a subset of the probe's
    // candidate space: every returned neighbor must share a probed
    // list with its query
    val probeOnly = pairs(Similarity.signIvfTopK(q, e, 200, dim = 64,
      bits = 7, nProbe = 56))
    assert(ivfadc.subsetOf(probeOnly),
      "IVFADC must never return a neighbor outside its probed lists")
  }

  test("ivfAdcTopK: recall@5 >= 0.80 at sf0.1 (the family gate, VERDICT r8 #2)") {
    // The one number below the 0.80 family bar in r8 (raw-vector codes:
    // 0.77). Residual encoding at the 56-list probe budget measures
    // 0.825 — the sf0.1 gate the family is held to everywhere else.
    // Deterministic data, deterministic arithmetic: no flake margin
    // needed.
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
    val ivfadc = pairs(Similarity.ivfAdcTopK(q, e, 5, dim = 64, bits = 7,
      nProbe = 56, m = 8, rerank = 96))
    val recall = ivfadc.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.80, s"IVFADC sf0.1 recall@5 $recall below the 0.80 gate")
  }

  test("persisted IVFADC index: serving ≡ in-flight exactly; probed lists prune partitions; floats not copied") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfadc").toString
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    Similarity.buildIvfAdcIndex(e, dir, dim = 64, bits = 7, m = 8)
    val served = Similarity.queryIvfAdcIndex(spark, dir, q, e, k = 5, dim = 64,
      bits = 7, nProbe = 56, m = 8, rerank = 96)
    val inFlight = Similarity.ivfAdcTopK(q, e, 5, dim = 64, bits = 7,
      nProbe = 56, m = 8, rerank = 96)
    assert(served.orderBy("query_id", "rank").collect().toSeq ===
      inFlight.orderBy("query_id", "rank").collect().toSeq,
      "persisted IVFADC index must serve the exact in-flight result")
    // the probe's list cut must reach the code-table scan as a
    // partition filter — the pruning the partitioned layout exists for
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters"),
      s"probed code scan should carry a partition filter:\n$plan")
    // floats are NOT copied: centroids + codes + codebook only. The
    // corpus stores 64 floats/vector; the code table m=8 longs → the
    // whole index dir must stay well under the corpus footprint even
    // with per-partition parquet overhead at this tiny scale.
    def sizeOf(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
    val idxBytes = sizeOf(new java.io.File(dir))
    assert(idxBytes < 600 * 1024, s"IVFADC index unexpectedly large: $idxBytes bytes")
  }

  test("appendIvfAdcIndex: associative (two appends ≡ one), frozen centroids, new lists handled") {
    // append ≡ rebuild does NOT hold for IVFADC (a rebuild retrains
    // the coarse quantizer); the exact invariant of the frozen-
    // quantizer design is ASSOCIATIVITY: the serving result depends
    // only on the SET of appended vectors, not on the batch
    // boundaries. Codebook sums merge in longs (exactly associative)
    // and each vector's codes depend only on itself + the frozen
    // centroids, so this must hold bit-for-bit.
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.filter($"vec_id" % 3 =!= 0)
    val restB = e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 === 0)
    val restC = e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 =!= 0)
    val q = e.filter($"vec_id" % 50 === 0)
    val twoStep = java.nio.file.Files.createTempDirectory("graft_ivfadc_two").toString
    val oneStep = java.nio.file.Files.createTempDirectory("graft_ivfadc_one").toString
    Similarity.buildIvfAdcIndex(base, twoStep, dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(restB, twoStep, batchId = "b1", dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(restC, twoStep, batchId = "b2", dim = 64, bits = 7, m = 8)
    Similarity.buildIvfAdcIndex(base, oneStep, dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(restB.unionByName(restC), oneStep,
      batchId = "b1", dim = 64, bits = 7, m = 8)
    def serve(p: String) = Similarity.queryIvfAdcIndex(spark, p, q, e,
      k = 5, dim = 64, bits = 7, nProbe = 56, m = 8, rerank = 96)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(twoStep) === serve(oneStep),
      "append must be associative: batch boundaries cannot change the served result")
    // the frozen quantizer really is frozen: centroids identical to a
    // base-only build (appends never touch them)
    val baseOnly = java.nio.file.Files.createTempDirectory("graft_ivfadc_base").toString
    Similarity.buildIvfAdcIndex(base, baseOnly, dim = 64, bits = 7, m = 8)
    val centsA = spark.read.parquet(s"$twoStep/centroids")
      .orderBy("list_id").collect().toSeq
    val centsB = spark.read.parquet(s"$baseOnly/centroids")
      .orderBy("list_id").collect().toSeq
    assert(centsA === centsB, "append must not retrain the coarse quantizer")
  }

  test("persisted PQ index: serving ≡ in-flight pqAdcTopK exactly; floats not copied") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    Similarity.buildPqIndex(e, dir, dim = 64, m = 8)
    val served = Similarity.queryPqIndex(spark, dir, q, e, k = 5, dim = 64,
      m = 8, rerank = 64)
    val inFlight = Similarity.pqAdcTopK(q, e, 5, dim = 64, m = 8, rerank = 64)
    assert(served.orderBy("query_id", "rank").collect().toSeq ===
      inFlight.orderBy("query_id", "rank").collect().toSeq,
      "persisted PQ index must serve the exact in-flight result")
    // the index holds codes + codebook only — the float corpus is NOT
    // duplicated into the index dir (the 100 TB posture: 8 code bytes
    // per vector, originals stay in the lake)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val names = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.map(_.toString).toList
    } finally files.close()
    assert(names.exists(_.contains("/codes")) && names.exists(_.contains("/codebook")))
    assert(!names.exists(_.contains("/vectors")), "index must not copy the floats")
    val bytes = names.filter(_.endsWith(".parquet")).map(p =>
      java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    // 500 vectors × 256 float bytes ≈ 128 KB of floats; the whole index
    // (codes + codebook + parquet overhead) must stay well under that
    assert(bytes < 100 * 1024, s"PQ index unexpectedly large: $bytes bytes")
  }

  test("pqBlocks: m must divide dim; blocks tile 1..dim exactly once") {
    assertThrows[IllegalArgumentException](Similarity.pqBlocks(64, 7))
    // wide sub-vectors fail LOUDLY: dim/m = 32 > 16 would overflow the
    // one-bit-per-component sign code long before its 2^32-cell
    // codebook finished materializing (ADVICE r8)
    assertThrows[IllegalArgumentException](Similarity.pqBlocks(64, 2))
    val blocks = Similarity.pqBlocks(64, 8)
    assert(blocks.flatten.sorted === (1 to 64))
    assert(blocks.forall(_.size === 8))
  }

  test("appendSignIvfIndex: incremental maintenance ≡ one-shot rebuild") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    val oneShot = java.nio.file.Files.createTempDirectory("graft_ivf_one").toString
    val incr = java.nio.file.Files.createTempDirectory("graft_ivf_incr").toString
    Similarity.buildSignIvfIndex(e, oneShot, dim = 64, bits = 7)
    Similarity.buildSignIvfIndex(e.filter($"vec_id" % 3 =!= 0), incr, dim = 64, bits = 7)
    // two append batches: maintenance is repeatable, not one-shot-only
    Similarity.appendSignIvfIndex(
      e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 === 0), incr, batchId = "b1",
      dim = 64, bits = 7)
    Similarity.appendSignIvfIndex(
      e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 =!= 0), incr, batchId = "b2",
      dim = 64, bits = 7)
    // identical index CONTENT per list...
    def content(p: String) = spark.read.parquet(s"$p/lists")
      .select($"vec_id", $"list_id".cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val a = content(oneShot)
    val b = content(incr)
    assert(a === b, "appended index must hold the same (vector, list) assignment")
    // ...and identical serving results
    val servedA = Similarity.querySignIvfIndex(spark, oneShot, q, k = 5, dim = 64,
      bits = 7, nProbe = 48).orderBy("query_id", "rank").collect().toSeq
    val servedB = Similarity.querySignIvfIndex(spark, incr, q, k = 5, dim = 64,
      bits = 7, nProbe = 48).orderBy("query_id", "rank").collect().toSeq
    assert(servedA === servedB)
  }

  /** compact leaves exactly one generation with one file per list dir. */
  private def assertOnePerList(table: String): Unit = {
    val root = new java.io.File(table)
    val batches = root.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("batch_id=")).sortBy(_.getName)
    assert(batches.map(_.getName).toSeq === Seq("batch_id=base"),
      s"compact must leave one generation, got ${batches.map(_.getName).toSeq}")
    for (b <- batches; ld <- b.listFiles().filter(_.isDirectory)) {
      val files = ld.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"list dir $ld holds ${files.length} files after compact")
    }
  }

  test("index compaction: appends then compact ≡ same served results, ≤1 file per list (VERDICT r9 #3)") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    val base = e.filter($"vec_id" % 3 =!= 0)
    val restB = e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 === 0)
    val restC = e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 =!= 0)
    val ad = java.nio.file.Files.createTempDirectory("graft_cmp_adc").toString
    Similarity.buildIvfAdcIndex(base, ad, dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(restB, ad, batchId = "b1", dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(restC, ad, batchId = "b2", dim = 64, bits = 7, m = 8)
    def serveA() = Similarity.queryIvfAdcIndex(spark, ad, q, e, k = 5, dim = 64,
      bits = 7, nProbe = 56, m = 8, rerank = 96).orderBy("query_id", "rank").collect().toSeq
    val beforeA = serveA()
    val auditBefore = Similarity.ivfAdcServabilityAudit(spark, ad)
      .orderBy("list_id").collect().toSeq
    Similarity.compactIvfAdcIndex(spark, ad, bits = 7)
    assert(serveA() === beforeA, "IVFADC compaction must be invisible to queries")
    assertOnePerList(s"$ad/codes")
    // compaction folds appended rows into the base generation, so the
    // audit's built/appended SPLIT collapses — but totals must survive
    val auditAfter = Similarity.ivfAdcServabilityAudit(spark, ad)
      .orderBy("list_id").collect().toSeq
    def totals(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1) + r.getLong(2))).toMap
    assert(totals(auditAfter) === totals(auditBefore))
  }

  test("append retry with the same batchId is idempotent (ADVICE r9: the double-append hazard)") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_retry").toString
    Similarity.buildIvfAdcIndex(e.filter($"vec_id" % 3 =!= 0), dir,
      dim = 64, bits = 7, m = 8)
    val batch = e.filter($"vec_id" % 3 === 0)
    Similarity.appendIvfAdcIndex(batch, dir, batchId = "b1", dim = 64, bits = 7, m = 8)
    val once = Similarity.queryIvfAdcIndex(spark, dir, q, e, k = 5, dim = 64,
      bits = 7, nProbe = 56, m = 8, rerank = 96).orderBy("query_id", "rank").collect().toSeq
    val codesOnce = spark.read.parquet(s"$dir/codes").count()
    // the crash-recovery contract: re-running the SAME (batch, batchId)
    // call overwrites that batch's shards instead of double-appending
    Similarity.appendIvfAdcIndex(batch, dir, batchId = "b1", dim = 64, bits = 7, m = 8)
    assert(spark.read.parquet(s"$dir/codes").count() === codesOnce,
      "retried append must not grow the code table")
    val twice = Similarity.queryIvfAdcIndex(spark, dir, q, e, k = 5, dim = 64,
      bits = 7, nProbe = 56, m = 8, rerank = 96).orderBy("query_id", "rank").collect().toSeq
    assert(twice === once, "retried append must serve the identical result")
    // batch ids are partition directory names and 'base' is reserved
    assertThrows[IllegalArgumentException](
      Similarity.appendIvfAdcIndex(batch, dir, batchId = "base", dim = 64, bits = 7, m = 8))
    assertThrows[IllegalArgumentException](
      Similarity.appendIvfAdcIndex(batch, dir, batchId = "1bad", dim = 64, bits = 7, m = 8))
  }

  test("sign-IVF appends are order-free: any batch split, any append order ≡ one-shot build") {
    // the structural quantizer's full maintenance claim, beyond the
    // 2-batch case: assignment depends only on the vector and sums
    // merge commutatively, so batch BOUNDARIES and batch ORDER are
    // both invisible to serving
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    val parts = (0 until 4).map(i => e.filter($"vec_id" % 4 === i))
    def serve(p: String) = Similarity.querySignIvfIndex(spark, p, q, k = 5,
      dim = 64, bits = 7, nProbe = 48).orderBy("query_id", "rank").collect().toSeq
    val oneShot = java.nio.file.Files.createTempDirectory("graft_of_one").toString
    Similarity.buildSignIvfIndex(e, oneShot, dim = 64, bits = 7)
    val expected = serve(oneShot)
    for (order <- Seq(Seq(1, 2, 3), Seq(3, 1, 2))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_of").toString
      Similarity.buildSignIvfIndex(parts(0), dir, dim = 64, bits = 7)
      order.foreach(i =>
        Similarity.appendSignIvfIndex(parts(i), dir, batchId = s"b$i", dim = 64, bits = 7))
      assert(serve(dir) === expected, s"order $order diverged from the one-shot build")
    }
  }

  test("torn append fails loudly at serve time; re-running the append recovers") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    val batch = e.filter($"vec_id" % 3 === 0)
    def serve(p: String) = Similarity.queryIvfAdcIndex(spark, p, q, e, k = 5,
      dim = 64, bits = 7, nProbe = 56, m = 8, rerank = 96)
      .orderBy("query_id", "rank").collect().toSeq
    // clean reference index
    val ref = java.nio.file.Files.createTempDirectory("graft_torn_ref").toString
    Similarity.buildIvfAdcIndex(e.filter($"vec_id" % 3 =!= 0), ref,
      dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(batch, ref, batchId = "b1", dim = 64, bits = 7, m = 8)
    val expected = serve(ref)
    // torn index: crash simulated between the codes write and the sums
    // write — without detection this serves silently-shifted ADC scores
    val torn = java.nio.file.Files.createTempDirectory("graft_torn").toString
    Similarity.buildIvfAdcIndex(e.filter($"vec_id" % 3 =!= 0), torn,
      dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(batch, torn, batchId = "b1", dim = 64, bits = 7, m = 8)
    val sumsShard = new org.apache.hadoop.fs.Path(s"$torn/codebook_sums/batch_id=b1")
    sumsShard.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sumsShard, true)
    val ex = intercept[IllegalArgumentException](serve(torn))
    assert(ex.getMessage.contains("torn index"))
    // the documented recovery: re-run the interrupted append verbatim
    Similarity.appendIvfAdcIndex(batch, torn, batchId = "b1", dim = 64, bits = 7, m = 8)
    assert(serve(torn) === expected, "recovered index must serve the clean result")
  }

  test("ivfAdcServabilityAudit: counts reconcile; build-empty lists are unservable") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_aud").toString
    Similarity.buildIvfAdcIndex(e.filter($"vec_id" % 3 =!= 0), dir,
      dim = 64, bits = 7, m = 8)
    Similarity.appendIvfAdcIndex(e.filter($"vec_id" % 3 === 0), dir,
      batchId = "b1", dim = 64, bits = 7, m = 8)
    val audit = Similarity.ivfAdcServabilityAudit(spark, dir).collect()
    assert(audit.map(r => r.getLong(1) + r.getLong(2)).sum === e.count(),
      "every indexed vector must appear in exactly one audit row")
    val appendOnly = audit.filter(_.getLong(1) === 0L)
    assert(appendOnly.forall(!_.getBoolean(3)),
      "lists the build never saw have no centroid — the probe cannot reach them")
    assert(audit.exists(_.getBoolean(3)), "a healthy index has servable lists")
  }

  test("autoQuantBits: pinned at 7 through every gated scale, grows toward nlist ≈ √n, capped") {
    import Similarity.autoQuantBits
    // every driver-gated corpus (n ≤ 2000) keeps the 128-list layout
    // the pinned q44/q72/q134/q175/q177/q178/q179/q180 oracles encode
    assert(Seq(1L, 20L, 200L, 2000L, 16384L).map(autoQuantBits(_, 64)).forall(_ === 7))
    assert(autoQuantBits(20000L, 64) === 8)   // sf1.0: 256 lists ≈ √20000
    assert(autoQuantBits(60000L, 64) === 8)   // sf3.0: 256 ≈ √60000
    assert(autoQuantBits(1000000L, 64) === 10) // 1024 ≈ √1e6
    assert(autoQuantBits(Long.MaxValue / 4, 64) === 16, "hard cap")
    assert(autoQuantBits(1000000L, 8) === 8, "dim-capped (quantDims needs dim ≥ bits)")
  }

  test("autoAdcRerank: pinned at 96 through every gated scale, ~n/100 beyond, capped") {
    import Similarity.autoAdcRerank
    assert(Seq(1L, 20L, 2000L, 9600L).map(autoAdcRerank(_)).forall(_ === 96))
    assert(autoAdcRerank(20000L) === 200) // sf1.0-organic: lifts 0.768 → ≥0.842
    assert(autoAdcRerank(60000L) === 600)
    assert(autoAdcRerank(10000000L) === 1024, "capped — raise nProbe/bits instead")
  }

  test("recallProbeCurve degenerate inputs: empty queries, empty grid, bad m, sampled-mode law (VERDICT r9 #7/#8)") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    // empty query set: the scaffold still emits every (family, budget)
    // row — with zero hits over zero truth pairs, not a crash
    val empty = Similarity.recallProbeCurve(e.filter($"vec_id" < 0), e,
      k = 5, dim = 64, bits = 7, probeGrid = Seq(2, 4)).collect()
    assert(empty.length === 4)
    assert(empty.forall(r => r.getLong(2) === 0L && r.getLong(3) === 0L))
    // loud, not wrong, on structurally invalid parameters
    assertThrows[IllegalArgumentException](Similarity.recallProbeCurve(
      q, e, k = 5, dim = 64, bits = 7, probeGrid = Seq.empty))
    assertThrows[IllegalArgumentException](Similarity.recallProbeCurve(
      q, e, k = 5, dim = 64, bits = 7, probeGrid = Seq(2), m = 7))
    assertThrows[IllegalArgumentException](Similarity.recallProbeCurve(
      q, e, k = 5, dim = 64, bits = 7, probeGrid = Seq(2), maxQueries = Some(0)))
    // sampled-mode law: a sample bound ≥ |Q| is exactly the full sweep
    val full = Similarity.recallProbeCurve(q, e, k = 5, dim = 64, bits = 7,
      probeGrid = Seq(8, 24)).orderBy("family", "n_probe").collect().toSeq
    val sampled = Similarity.recallProbeCurve(q, e, k = 5, dim = 64, bits = 7,
      probeGrid = Seq(8, 24), maxQueries = Some(1000000))
      .orderBy("family", "n_probe").collect().toSeq
    assert(sampled === full)
  }

  test("recallProbeCurve: single-list corpus — both families reach full recall, no crash") {
    // all components positive → every sign test fires → ONE occupied
    // list; probing it is a full scan, so recall must be exactly 1
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(64)(d => 0.1f + 0.01f * ((i + d) % 50)))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" % 10 === 0)
    val curve = Similarity.recallProbeCurve(q, vecs, k = 3, dim = 64, bits = 7,
      probeGrid = Seq(1)).collect()
    assert(curve.length === 2)
    assert(curve.forall(r => r.getLong(3) > 0L && r.getLong(2) === r.getLong(3)),
      s"single-list corpus must give hits = n_pairs: ${curve.mkString(", ")}")
  }

  test("organic recall at sf1.0: both ANN families ≥ 0.80 recall@5 on non-twin data (VERDICT r9 #1)") {
    // ScaleUp's exact-twin copies make recall above sf0.1 trivially
    // 1.0 — every query's true top-k is its own copies at cosine 1.0,
    // which every quantizer also ranks first (the r9 sweep trap). This
    // gate measures the number that matters, on the ORGANIC corpus:
    // 10 key-shifted copies of the sf0.1 embeddings with copies ≥ 1
    // hash-noise-blended (ScaleUp.organicEmbeddings — byte-identical
    // to what --perturb-embeddings writes), n = 20000 with a graded
    // neighbor structure. Occupancy-tuned quantizer
    // (autoQuantBits(20000) = 8 → 256 lists) at FAISS-realistic
    // budgets: the probe scans 96/256 ≈ 37.5% (sign) / 128/256 = 50%
    // (compressed path) of the lists, rerank touches ~1% of the
    // corpus. Deterministic end to end (hash noise, structural
    // quantizer, hash-priority query sample): measured sign_ivf 0.820
    // @ nProbe=96 and ivfadc 0.842 @ nProbe=128/rerank=192 — the
    // numbers cannot drift without a code change, so no flake margin.
    val e0 = graft.sources.Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val corpus = graft.tools.ScaleUp.organicEmbeddings(e0, copies = 10, span = 2000L)
      .localCheckpoint()
    val n = corpus.count()
    assert(n === 20000L)
    val bits = Similarity.autoQuantBits(n, 64)
    assert(bits === 8)
    // the occupancy-scaled budget the catalog family uses at this n:
    // 200 ≥ the measured-0.842 rerank-192 point, and recall is
    // monotone in rerank (superset re-ranked exactly)
    val rerank = Similarity.autoAdcRerank(n)
    assert(rerank === 200)
    val curve = Similarity.recallProbeCurve(
      corpus.filter($"vec_id" % 50 === 0), corpus, k = 5, dim = 64,
      bits = bits, probeGrid = Seq(96, 128), m = 8, rerank = rerank,
      maxQueries = Some(100)).collect()
    def recallAt(family: String, nProbe: Int): Double = {
      val r = curve.find(x => x.getString(0) == family && x.getInt(1) == nProbe).get
      r.getLong(2).toDouble / r.getLong(3)
    }
    val sign = recallAt("sign_ivf", 96)
    val adc = recallAt("ivfadc", 128)
    assert(sign >= 0.80, s"sign-IVF organic recall@5 $sign below the 0.80 gate")
    assert(adc >= 0.80, s"IVFADC organic recall@5 $adc below the 0.80 gate")
    // the LSH path under its joint (planes, tables) plan — the gate
    // that would have caught the r9 planes-only collapse (0.214 at
    // 8×8; the joint plan measures 0.780 at (5, 12), deterministic)
    val qs = corpus.filter($"vec_id" % 50 === 0)
      .orderBy(xxhash64($"vec_id"), $"vec_id").limit(100).localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(qs, corpus, 5))
    val (planes, tables) = Similarity.autoLshPlan(n, dim = 64)
    assert((planes, tables) === ((5, 12)))
    val lsh = pairs(Similarity.signLshTopK(qs, corpus, 5,
      nTables = tables, planesPerTable = planes))
    val lshRecall = lsh.intersect(truth).size.toDouble / truth.size
    assert(lshRecall >= 0.75, s"sign-LSH organic recall@5 $lshRecall below the 0.75 gate")
    // ranking quality (q185's metric) at the same budgets, same truth
    // sample: measured sign_ivf MRR 0.900 / ivfadc 0.930 — every
    // retrieved true NN sits at rank 1 (exact-cosine rerank), so MRR ≈
    // found-rate and the gate is a top-1-containment gate in disguise
    val truth1 = Similarity.bruteForceTopK(qs, corpus, 1)
      .select($"query_id", $"neighbor_id")
    def mrr(ann: org.apache.spark.sql.DataFrame): Double = {
      val m = Similarity.retrievalMrr(ann, truth1)
        .agg(org.apache.spark.sql.functions.avg($"rr_ppm")).head.getDouble(0)
      m / 1e6
    }
    val signMrr = mrr(Similarity.signIvfTopK(qs, corpus, k = 10, dim = 64,
      bits = bits, nProbe = 96))
    assert(signMrr >= 0.85, s"sign-IVF organic MRR $signMrr below the 0.85 gate")
    val adcMrr = mrr(Similarity.ivfAdcTopK(qs, corpus, k = 10, dim = 64,
      bits = bits, nProbe = 128, m = 8, rerank = rerank))
    assert(adcMrr >= 0.85, s"IVFADC organic MRR $adcMrr below the 0.85 gate")
  }

  test("autoLshPlan: (4,8) pinned at gated scales; planes quarter-rate, tables compensate, dim-walled") {
    import Similarity.autoLshPlan
    assert(Seq(1L, 20L, 2000L).map(autoLshPlan(_)).forall(_ == ((4, 8))))
    assert(autoLshPlan(20000L) === ((5, 12)))
    assert(autoLshPlan(60000L) === ((5, 12)))
    assert(autoLshPlan(1000000L) === ((6, 10)))
    // the dim wall: planes × tables never exceeds dim
    for (n <- Seq(2000L, 20000L, 1000000L, Long.MaxValue / 4)) {
      val (p, t) = autoLshPlan(n)
      assert(p * t <= 64, s"plan ($p, $t) breaches the dim wall at n=$n")
    }
  }

  test("retrievalMrr: hand-graded ranks, misses, multiple relevant, absent queries") {
    val ann = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1)).toDF("query_id", "neighbor_id", "rank")
    val truth = Seq(
      (1L, 12L),            // found at rank 3 -> rr 333333
      (2L, 99L),            // relevant never retrieved -> 0
      (3L, 31L), (3L, 30L), // two relevant, best matched rank 1 -> 1000000
      (4L, 40L)             // query with no ANN rows at all -> 0
    ).toDF("query_id", "neighbor_id")
    val out = Similarity.retrievalMrr(ann, truth)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((1L, 1L, 333333L)))
    assert(out(2L) === ((1L, 0L, 0L)))
    assert(out(3L) === ((2L, 1L, 1000000L)))
    assert(out(4L) === ((1L, 0L, 0L)))
    assert(out.size === 4) // only graded queries appear
  }

  test("probeBudget: the 37.5% fraction reproduces every pinned catalog budget across scales") {
    import Similarity.probeBudget
    assert(probeBudget(7) === 48)   // the q44/q72/q134 pinned budget (128 lists)
    assert(probeBudget(8) === 96)   // the n=20000 organic gate (256 lists)
    assert(probeBudget(9) === 192)  // the 100x point (512 lists)
    assert(probeBudget(1) === 1)    // floor: never zero probes
    assertThrows[IllegalArgumentException](probeBudget(0))
    assertThrows[IllegalArgumentException](probeBudget(7, 0))
    // boundary corners (VERDICT r10 #8): full fraction = every list at
    // any width; the 56-of-128 family needs 438‰ (437 floors to 55)
    assert(probeBudget(1, 1000) === 2)
    assert(probeBudget(16, 1000) === 65536)
    assert(probeBudget(7, 438) === 56)
    assert(probeBudget(7, 437) === 55)
    assert(probeBudget(16, 1) === 65)   // 0.1% of 65536, never zero
    assert(probeBudget(1, 1) === 1)     // floor dominates tiny fractions
    // monotone in both arguments (a budget can never shrink as lists
    // or the fraction grow)
    for (b <- 1 to 15) assert(probeBudget(b + 1) >= probeBudget(b))
    for (f <- Seq(1, 100, 375, 438, 999))
      assert(probeBudget(9, f + 1) >= probeBudget(9, f))
    assertThrows[IllegalArgumentException](probeBudget(7, 1001))
    assertThrows[IllegalArgumentException](probeBudget(17))
  }

  test("retrievalMrr: empty truth and empty ann are empty results, not crashes (VERDICT r10 #8)") {
    val ann = Seq((1L, 2L, 1)).toDF("query_id", "neighbor_id", "rank")
    val truth = Seq((1L, 2L)).toDF("query_id", "neighbor_id")
    val emptyTruth = truth.filter($"query_id" < 0)
    assert(Similarity.retrievalMrr(ann, emptyTruth).count() === 0L)
    // empty ann: every truth row is a miss, never a crash
    val missed = Similarity.retrievalMrr(ann.filter($"rank" < 0), truth).collect()
    assert(missed.length === 1)
    assert(missed.head.getLong(missed.head.fieldIndex("found")) === 0L)
    assert(missed.head.getLong(missed.head.fieldIndex("rr_ppm")) === 0L)
  }

  test("queryIvfAdcIndex: empty query set serves an empty result, not a crash") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_emptyq").toString
    Similarity.buildIvfAdcIndex(e, dir, dim = 64, bits = 7, m = 8)
    val out = Similarity.queryIvfAdcIndex(spark, dir, e.filter($"vec_id" < 0), e,
      k = 5, dim = 64, bits = 7, nProbe = 56, m = 8, rerank = 96)
    assert(out.count() === 0L)
  }

  // annPlan's grid: both sides of the dim-64 regime boundary
  // (1600·64 = 102 400), at dims with and without a power of two
  private val planGrid = for {
    n <- Seq(1L, 2000L, 102400L, 102401L, 200000L)
    dim <- Seq(16, 48, 64)
  } yield (n, dim)

  test("annTopK: dispatch boundary pinned; each route ≡ its family called directly (VERDICT r10 #1)") {
    import Similarity.{annPlan, autoLshPlan, autoQuantBits, lshRegimeMax, probeBudget, SignIvf, SignLsh}
    // the boundary: 1600·dim — gated scales and both measured sweep
    // points (20k, 60k) inside the LSH regime; the measured 1,055 s
    // 200k point outside it
    assert(lshRegimeMax(64) === 102400L)
    assert(Seq(1L, 2000L, 20000L, 60000L, 102400L)
      .forall(annPlan(_, 64).isInstanceOf[SignLsh]))
    assert(Seq(102401L, 200000L, 10000000L)
      .forall(annPlan(_, 64).isInstanceOf[SignIvf]))
    // fewer dims = a tighter dim wall = an earlier boundary
    assert(annPlan(30000L, 16).isInstanceOf[SignIvf])
    // the regime plan carries exactly the auto budgets
    for ((n, dim) <- planGrid) {
      val expected =
        if (n <= lshRegimeMax(dim)) {
          val (planes, tables) = autoLshPlan(n, dim)
          SignLsh(planes, tables)
        } else {
          val bits = autoQuantBits(n, dim)
          SignIvf(bits, probeBudget(bits))
        }
      assert(annPlan(n, dim) === expected, s"n=$n dim=$dim")
    }
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 50 === 0)
    val n = e.count()
    // in-regime: exactly the joint-plan LSH result (q31's pinned route)
    val (planes, tables) = Similarity.autoLshPlan(n, dim = 64)
    val lsh = Similarity.signLshTopK(q, e, k = 5, nTables = tables,
      planesPerTable = planes).orderBy("query_id", "rank").collect().toSeq
    assert(Similarity.annTopK(q, e, k = 5, dim = 64)
      .orderBy("query_id", "rank").collect().toSeq === lsh)
    // past-regime (injected count — the corpus itself stays small):
    // exactly the sign-IVF result at the occupancy-tuned budgets
    val bigN = 200000L
    val bits = Similarity.autoQuantBits(bigN, 64)
    val ivf = Similarity.signIvfTopK(q, e, k = 5, dim = 64, bits = bits,
        nProbe = Similarity.probeBudget(bits))
      .orderBy("query_id", "rank").collect().toSeq
    assert(Similarity.annTopK(q, e, k = 5, dim = 64, corpusCount = bigN)
      .orderBy("query_id", "rank").collect().toSeq === ivf)
  }
}
