package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.GraftFunctions

class DedupSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("exact: identical texts group under one hash, min id kept") {
    val d = docs(1L -> "hello world", 2L -> "hello world", 3L -> "other")
    val out = Dedup.exact(d, "doc_id", "text").collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("jaccard: identical=1, disjoint=0") {
    val d = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "v w x y z")
      .withColumn("j_same", Dedup.jaccard(lit("a b c d e"), col("text"), 2))
    val m = d.select($"doc_id", $"j_same").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(2L) === 1.0)
    assert(m(3L) === 0.0)
  }

  test("minhash signatures: identical texts → identical signatures") {
    val d = docs(1L -> "the quick brown fox jumps", 2L -> "the quick brown fox jumps",
      3L -> "completely different words here now")
    val sigs = Dedup.prepareNearDup(d, "doc_id", "text", 16).select("doc_id", "sig").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    assert(sigs(1L).length === 16)
  }

  test("shingle sets are sorted distinct and jaccardSorted matches set math") {
    val d = docs(1L -> "a b c d e f", 2L -> "a b c d e f extra")
    val prepared = Dedup.prepareNearDup(d, "doc_id", "text", 16, shingleSize = 2)
    val sets = prepared.select("doc_id", "sh").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(sets(1L) === sets(1L).sorted)
    assert(sets(1L).distinct === sets(1L))
    assert(sets(1L).length === 5) // 6 tokens → 5 bigrams
    // jaccard of 5-shared / 6-union = 0.8333…
    val pairs = Dedup.nearDupPairsPrepared(prepared, threshold = 0.5, k = 16, bands = 4)
      .collect()
    assert(pairs.length === 1)
    assert(math.abs(pairs.head.getAs[Double]("jaccard") - 5.0 / 6.0) < 1e-12)
  }

  test("nearDupPairs finds a planted near-duplicate and skips dissimilar docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(
      1L -> base,
      2L -> (base + " lambda"), // near-dup of 1
      3L -> "one two three four five six seven eight nine ten")
    val pairs = Dedup.nearDupPairsPrepared(Dedup.prepareNearDup(d, "doc_id", "text", 16),
        threshold = 0.5, k = 16, bands = 4)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Double]("jaccard") > 0.5)
  }

  test("nearDupPairs (char level) finds the same planted pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(
      1L -> base,
      2L -> (base + " tail"),
      3L -> "one two three four five six seven eight nine ten")
    val pairs = Dedup.nearDupPairsPrepared(
        Dedup.prepareNearDup(d, "doc_id", "text", 16, shingleSize = 6, charLevel = true),
        threshold = 0.5, k = 16, bands = 4)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("simhash signatures agree between pipeline and per-row variants") {
    val d = docs(1L -> "the quick brown fox", 2L -> "pack my box with jugs")
    val pipeline = Dedup.simhashSignatures(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perRow = d.select($"doc_id", GraftFunctions.simhash64($"text").as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pipeline === perRow)
  }

  test("simhashPairs: identical docs at hamming 0; unrelated docs absent") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "entirely unrelated content about databases and queries")
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Long]("hamming") === 0L)
    // four 16-bit bands only guarantee a shared band up to Hamming 3
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 4))
  }

  test("fingerprints: winnowing selects a subset of k-gram hashes, deterministic") {
    val d = docs(1L -> "abcdefghijklmnopqrstuvwxyz", 2L -> "abcdefghijklmnopqrstuvwxyz")
    val fps = Dedup.fingerprints(d, "doc_id", "text", k = 8, w = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L).nonEmpty)
    // winnowing picks at most one hash per window → far fewer than all k-grams
    assert(fps(1L).length <= 26 - 8 + 1)
  }

  test("fingerprints: short text (< k chars) falls back to a single hash") {
    val fps = Dedup.fingerprints(docs(1L -> "tiny"), "doc_id", "text", k = 8, w = 4)
      .collect()
    assert(fps.head.getSeq[Long](1).isEmpty) // no 8-gram exists in 4 chars
  }

  test("bandPairs: k not divisible by bands still uses the whole signature") {
    // k=10, bands=4 → bands of 2/2/2/4; identical docs must still pair
    val d = docs(1L -> "alpha beta gamma delta epsilon", 2L -> "alpha beta gamma delta epsilon")
    val sigs = Dedup.prepareNearDup(d, "doc_id", "text", 10).select("doc_id", "sig")
    val pairs = Dedup.bandPairs(sigs, bands = 4, k = 10).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    intercept[IllegalArgumentException](Dedup.bandPairs(sigs, bands = 11, k = 10))
  }

  test("neighborCap bounds candidates from a 500-copy boilerplate cluster") {
    val m = 500
    val cap = 8
    val cluster = (0 until m).map(i => (i.toLong, "identical boilerplate text repeated everywhere"))
    val d = (cluster :+ (9999L -> "a genuinely different document about other things")).toDF("doc_id", "text")
    val sigs = Dedup.prepareNearDup(d, "doc_id", "text", 16).select("doc_id", "sig")
    val capped = Dedup.bandPairs(sigs, bands = 4, k = 16, neighborCap = Some(cap)).count()
    // chain pairs: ≤ m·cap per band, identical across bands after distinct
    assert(capped <= m.toLong * cap, s"capped candidates $capped exceed m*cap")
    assert(capped >= m - 1, "cap must keep the cluster connected (chain)")
    val uncapped = Dedup.bandPairs(sigs, bands = 4, k = 16).count()
    assert(uncapped === m.toLong * (m - 1) / 2)
  }

  test("connectedComponents: chains and separate clusters resolve to min ids") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long chain (path halving)") {
    // chain 0-1-2-...-63: plain propagation needs 63 rounds; halving
    // must finish within the default maxIter
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs).collect()
    assert(comps.length === 64)
    assert(comps.forall(_.getLong(1) === 0L))
  }

  test("resolveNearDups: capped cluster fully collapses to one keep_id") {
    val m = 500
    val cluster = (0 until m).map(i => (i.toLong + 100, "identical boilerplate text repeated everywhere"))
    val extras = Seq(5000L -> "a genuinely different document about other things",
      6000L -> "yet another unrelated piece of writing entirely")
    val d = (cluster ++ extras).toDF("doc_id", "text")
    val resolved = Dedup.resolveNearDups(d, "doc_id", "text", threshold = 0.9,
        neighborCap = Some(4)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until m).forall(i => resolved(i.toLong + 100) === 100L),
      "every cluster member must resolve to the min id despite the cap")
    assert(resolved(5000L) === 5000L && resolved(6000L) === 6000L)
    assert(resolved.size === m + 2)
  }

  test("fingerprintPairs: a partial copy shares fingerprints with its source") {
    val long = (1 to 40).map(i => s"token$i word$i phrase$i").mkString(" ")
    val d = docs(
      1L -> long,
      2L -> long.substring(0, 200), // contained prefix copy
      3L -> "entirely different material with no shared passages at all here")
    val pairs = Dedup.fingerprintPairs(d, "doc_id", "text",
      k = 8, w = 4, minShared = 2, maxDocFreq = 10)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === Set((1L, 2L)))
  }

  test("fingerprintPairs drops boilerplate fingerprints above maxDocFreq") {
    // the same text in 5 docs, maxDocFreq=4 → every fingerprint is
    // ubiquitous → no candidate survives
    val d = (1L to 5L).map(_ -> "shared boilerplate sentence repeated in every document")
    val pairs = Dedup.fingerprintPairs(docs(d: _*), "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDocFreq = 4)
    assert(pairs.count() === 0)
  }

  test("dedupeIncrement: batch survivors exclude exact, near, and in-batch dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven"
    val history = Dedup.artifacts(
      docs(1L -> base, 2L -> other), "doc_id", "text")
    val batch = Dedup.artifacts(docs(
      10L -> base,                 // exact dup of history → dropped
      11L -> (base + " lambda"),   // near dup of history → dropped
      12L -> "a genuinely new document about completely fresh material",
      13L -> "a genuinely new document about completely fresh material", // exact in-batch dup
      14L -> "another new piece of text with its own unique words entirely",
      15L -> "another new piece of text with its own unique words entirely extra", // near in-batch dup
    ), "doc_id", "text")
    val survivors = Dedup.dedupeIncrement(batch, history, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(12L, 14L))
    // idempotence: re-running the surviving batch against the grown
    // history yields nothing new
    val grown = history.unionByName(
      Dedup.dedupeIncrement(batch, history, threshold = 0.5))
    assert(Dedup.dedupeIncrement(batch, grown, threshold = 0.5).count() === 0)
    // reliable-checkpoint mode ≡ local, and the intermediate snapshot
    // is freed before return (same contract as resolveNearDups)
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_ckpt").toString
    val reliable = Dedup.dedupeIncrement(batch, history, threshold = 0.5,
        checkpointDir = Some(dir))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reliable === survivors)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "no_exact")))
  }

  test("dedupeIncrement: null texts on both sides neither fail nor contaminate") {
    // null signatures share one band hash, so the two null docs are
    // candidates; the null Jaccard drops the pair
    val history = Dedup.artifacts(docs(1L -> null, 2L -> "one two three four five six"),
      "doc_id", "text")
    val batch = Dedup.artifacts(docs(10L -> null, 12L -> "seven eight nine ten eleven twelve"),
      "doc_id", "text")
    val survivors = Dedup.dedupeIncrement(batch, history, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(10L, 12L))
  }

  test("exactIncrement: history anti-join + min-id within batch, idempotent") {
    val history = docs(1L -> "alpha beta", 2L -> "gamma delta")
    val batch = docs(
      10L -> "alpha beta",   // exact dup of history → dropped
      12L -> "fresh text",
      13L -> "fresh text",   // in-batch exact dup → min id 12 survives
      14L -> "another one")
    val survivors = Dedup.exactIncrement(batch, history, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(12L, 14L))
    // idempotence: survivors unioned into history kill a re-run
    val grown = history.unionByName(
      docs(12L -> "fresh text", 14L -> "another one"))
    assert(Dedup.exactIncrement(batch, grown, "doc_id", "text").count() === 0)
  }

  test("resolveNearDups keeps singletons and splits distinct clusters") {
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten eleven twelve"
    val d = docs(
      1L -> base1, 2L -> (base1 + " lambda"), 3L -> (base1 + " mu"),
      7L -> base2, 8L -> (base2 + " thirteen"),
      9L -> "completely standalone text with no duplicate partner anywhere")
    val resolved = Dedup.resolveNearDups(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("connectedComponents: reliable-checkpoint mode ≡ local, lineage truncated") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val local = Dedup.connectedComponents(pairs)
      .orderBy("doc_id").collect().toSeq
    val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
    assert(reliable.orderBy("doc_id").collect().toSeq === local)
    // the labels really went to reliable storage, not executor blocks
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(files.filter(java.nio.file.Files.isRegularFile(_)).count() > 0)
    finally files.close()
    // lineage is truncated: the result plan reads the final round's
    // parquet snapshot, not the k-round iterative join tree over the
    // in-memory input
    val leaves = reliable.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(l =>
      l.getClass.getSimpleName.contains("Relation") &&
        !l.getClass.getSimpleName.startsWith("LocalRelation")),
      s"expected file-relation leaves, got: ${leaves.map(_.getClass.getSimpleName)}")
  }

  test("connectedComponents: loop shuffle sizing is restored; edge snapshot freed") {
    import spark.implicits._
    val shufKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled" // loop disables AQE (r17)
    val before = spark.conf.get(shufKey)
    val beforeAqe = spark.conf.get(aqeKey)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    // the loop overrides the session's shuffle sizing from the measured
    // edge count — the caller's conf must come back, success or failure
    Dedup.connectedComponents(pairs).collect()
    assert(spark.conf.get(shufKey) === before,
      "caller's shuffle.partitions must be restored after the CC loop")
    assert(spark.conf.get(aqeKey) === beforeAqe,
      "caller's AQE setting must be restored after the CC loop")
    // durable mode: the <dir>/edges snapshot must not outlive the call
    // (only the final labels round may, since the result reads it)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_edges").toString
    Dedup.connectedComponents(pairs, checkpointDir = Some(dir)).collect()
    assert(spark.conf.get(shufKey) === before)
    assert(spark.conf.get(aqeKey) === beforeAqe)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "edges")),
      "edge snapshot must be freed before return")
  }

  test("resolveNearDups: reliable-checkpoint mode ≡ local, intermediates freed") {
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten eleven twelve"
    val d = docs(
      1L -> base1, 2L -> (base1 + " lambda"), 3L -> (base1 + " mu"),
      7L -> base2, 8L -> (base2 + " thirteen"),
      9L -> "completely standalone text with no duplicate partner anywhere")
    val local = Dedup.resolveNearDups(d, "doc_id", "text", threshold = 0.5)
      .orderBy("doc_id").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_rsv_ckpt").toString
    val reliable = Dedup.resolveNearDups(d, "doc_id", "text", threshold = 0.5,
      checkpointDir = Some(dir))
    assert(reliable.orderBy("doc_id").collect().toSeq === local)
    // the signature snapshot is freed before return; only component
    // label snapshots (the result's backing files) outlive the call
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "prepared")),
      "signature snapshot must be deleted before resolveNearDups returns")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "components"))
    try assert(files.filter(java.nio.file.Files.isRegularFile(_)).count() > 0)
    finally files.close()
  }

  test("removeFrequentSpans scrubs corpus-frequent grams, keeps sub-threshold and unique text") {
    // banner "x1 x2 x3 x4": its two internal 3-grams appear in 4 docs
    // (df 4 ≥ minDf 3) and together cover all 4 banner positions.
    // "k1 k2 k3" is shared by only 2 docs (df 2 < 3) → must survive.
    val docs = Seq(
      (1L, "x1 x2 x3 x4 u1 u2 u3"),
      (2L, "x1 x2 x3 x4 v1 v2"),
      (3L, "x1 x2 x3 x4 w1 w2 w3 w4"),
      (4L, "k1 k2 k3 p q"),
      (5L, "k1 k2 k3 r s"),
      (6L, "x1 x2 x3 x4"), // pure boilerplate → empty survivor
      (7L, "   ")          // blank → filtered out entirely
    ).toDF("doc_id", "text")
    val out = Dedup.removeFrequentSpans(docs, "doc_id", "text", n = 3, minDf = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("u1 u2 u3", 4L)))
    assert(out(2L) === (("v1 v2", 4L)))
    assert(out(3L) === (("w1 w2 w3 w4", 4L)))
    assert(out(4L) === (("k1 k2 k3 p q", 0L)), "df 2 < minDf 3 must survive")
    assert(out(5L) === (("k1 k2 k3 r s", 0L)))
    assert(out(6L) === (("", 4L)), "a fully-boilerplate doc keeps nothing")
    assert(!out.contains(7L), "blank docs are dropped, not emitted")
  }

  test("fuzzyPairs: finds typo-distance keys inside a block, rejects far keys") {
    val docs = Seq(
      (1L, "spark engine tuning"),
      (2L, "spark engiine tuning"), // 1 insertion from doc 1
      (3L, "spark en"),             // shares the prefix block, too far (dist > 3)
      (4L, "kafka engine tuning"),  // suffix block matches doc 1, dist 5 → rejected
      (5L, "spark emgine tunin")    // 2 edits from doc 1
    ).toDF("doc_id", "key")
    val pairs = Dedup.fuzzyPairs(docs, "doc_id", "key", maxDist = 3, prefixLen = 6)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1L), (1L, 5L, 2L), (2L, 5L, 3L)))
  }

  test("fuzzyPairs: a typo INSIDE the prefix is caught via the suffix block") {
    val docs = Seq(
      (1L, "xspark engine tuning"),
      (2L, "yspark engine tuning"), // substitution at position 1 — prefix blocks differ
      (3L, "zebra zebra zebra")     // matches neither block of 1/2
    ).toDF("doc_id", "key")
    val pairs = Dedup.fuzzyPairs(docs, "doc_id", "key", maxDist = 3, prefixLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs === Set((1L, 2L, 1L)))
  }

  test("fuzzyPairs: the single-typo guarantee boundary is 2x prefixLen, as documented") {
    // Keys shorter than 2*prefixLen have overlapping prefix/suffix
    // windows: one edit inside the overlap changes BOTH blocks and the
    // pair is structurally missed. This pins the documented boundary —
    // the cure is a smaller prefixLen, not a code change.
    val short = Seq((1L, "abcdefgh"), (2L, "abcXefgh")).toDF("doc_id", "key")
    val missed = Dedup.fuzzyPairs(short, "doc_id", "key", maxDist = 3, prefixLen = 6)
    assert(missed.count() === 0,
      "len 8 < 2*6: the position-4 edit sits in both windows and must miss")
    val caught = Dedup.fuzzyPairs(short, "doc_id", "key", maxDist = 3, prefixLen = 4)
    assert(caught.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 2L, 1L)), "len 8 >= 2*4: disjoint windows catch every single typo")
  }

  test("fuzzyPairs: length prefilter is lossless at the threshold boundary") {
    val docs = Seq(
      (1L, "abcdef"),
      (2L, "abcdefgh"),  // len diff 2, dist 2 → kept
      (3L, "abcdefghij") // len diff 4 > maxDist → pruned without computing
    ).toDF("doc_id", "key")
    val pairs = Dedup.fuzzyPairs(docs, "doc_id", "key", maxDist = 3, prefixLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 2L)))
    assert(!pairs.exists(p => p._2 === 3L && p._1 === 1L),
      "len-gap 4 cannot be within edit distance 3")
    assert(pairs.contains((2L, 3L, 2L)))
  }

  test("fuzzyPairs neighborCap: subset of uncapped, O(m·cap) on a hot block, cluster stays connected") {
    // a 40-member boilerplate block (identical keys) plus two organic
    // typo pairs — the r9 sf1.0 regression shape in miniature
    val hot = (1L to 40L).map(i => (i, "identicalkey"))
    val organic = Seq((100L, "organicpairx"), (101L, "organicpairy"),
      (200L, "unrelatedkey"))
    val docs = (hot ++ organic).toDF("doc_id", "key")
    val uncapped = Dedup.fuzzyPairs(docs, "doc_id", "key", maxDist = 3, prefixLen = 6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.fuzzyPairs(docs, "doc_id", "key", maxDist = 3, prefixLen = 6,
        neighborCap = Some(4))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "the cap must only DROP pairs, never invent them")
    // organic pairs (blocks smaller than the cap) are untouched
    assert(capped.contains((100L, 101L)))
    // hot block emits O(m·cap), not m²/2: 40 members × cap 4 per block
    // family (prefix + suffix collapse to the same pairs here)
    val hotPairs = capped.count { case (a, b) => a <= 40L && b <= 40L }
    assert(hotPairs <= 40 * 4, s"cap leaked: $hotPairs hot-block pairs")
    assert(hotPairs < 40 * 39 / 2, "cap did not bound the hot block at all")
    // chains keep the cluster CONNECTED for component resolution
    val comps = Dedup.connectedComponents(
        Dedup.fuzzyPairs(docs, "doc_id", "key", maxDist = 3, prefixLen = 6,
          neighborCap = Some(4)).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 40L).map(comps).toSet.size === 1,
      "every hot-block member must resolve to one component")
  }

  test("repeatedSpans/removeRepeatedSpans: a non-scan-level input gives the scan-level rows") {
    // distinct() puts an Aggregate above the scan, so the rebalance step
    // must be skipped for it; the spans never depend on that step
    val in = docs((1L, "a b c d e"), (2L, "x a b c d y"), (3L, "q r s t"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val spans = rows(Dedup.repeatedSpans(in, "doc_id", "text", w = 3))
    assert(spans.nonEmpty)
    assert(rows(Dedup.repeatedSpans(in.distinct(), "doc_id", "text", w = 3)) === spans)
    assert(rows(Dedup.removeRepeatedSpans(in.distinct(), "doc_id", "text", w = 3)) ===
      rows(Dedup.removeRepeatedSpans(in, "doc_id", "text", w = 3)))
  }
}
