package graft.operators

import graft.SparkSpec

class LanguageModelSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("train: counts and vocabulary match the hand-computed example") {
    // training tokens: "a b a b" -> bigrams (a b), (b a), (a b)
    //                  "a c"     -> bigram  (a c)
    val train = docs(1L -> "a b a b", 2L -> "a c")
    val lm = LanguageModel.train(train, "doc_id", "text")
    assert(lm.vocabSize === 3L) // {a, b, c}
    val cb = lm.bigramCounts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cb === Map("a b" -> 2L, "b a" -> 1L, "a c" -> 1L))
    val cp = lm.prefixCounts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // prefix counts are over bigram POSITIONS: a starts 3, b starts 1
    assert(cp === Map("a" -> 3L, "b" -> 1L))
  }

  test("scoreFluencyPpm: exact hand-computed integers, OOV and short docs") {
    val train = docs(1L -> "a b a b", 2L -> "a c")
    val lm = LanguageModel.train(train, "doc_id", "text")
    val scored = LanguageModel
      .scoreFluencyPpm(docs(
        10L -> "a b",   // seen bigram: (2+1)*1e6 div (3+3) = 500000
        11L -> "c a",   // unseen, prefix c unseen: (0+1)*1e6 div (0+3) = 333333
        12L -> "a",     // no bigrams
        13L -> "a b c a b"), // (a b)=500000, (b c)=(0+1)*1e6 div(1+3)=250000,
                             // (c a)=333333, (a b)=500000
                             // sum=1583333, div 4 = 395833; 2 OOV
        lm, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(scored(10L) === ((1L, 0L, 500000L)))
    assert(scored(11L) === ((1L, 1L, 333333L)))
    assert(scored(12L) === ((0L, 0L, 0L)))
    assert(scored(13L) === ((4L, 2L, 395833L)))
  }

  test("fluent text under the model outscores shuffled-token text (the filter's purpose)") {
    // deterministic corpus: fluent docs repeat natural transitions,
    // garbage docs use the same vocabulary in never-seen orders
    val fluent = (0L until 40L).map(i =>
      i -> "the cat sat on the mat and the dog ran to the cat")
    val garbage = (100L until 110L).map(i =>
      i -> "mat the to cat dog sat and ran on the mat dog to sat")
    val all = docs((fluent ++ garbage): _*)
    val lm = LanguageModel.train(docs(fluent: _*), "doc_id", "text")
    val scored = LanguageModel.scoreFluencyPpm(all, lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val worstFluent = fluent.map(f => scored(f._1)).min
    val bestGarbage = garbage.map(g => scored(g._1)).max
    assert(worstFluent > bestGarbage * 5,
      s"fluent floor $worstFluent should dominate garbage ceiling $bestGarbage")
  }

  test("minCount pruning only lowers scores (denominator never shrinks with the numerator table)") {
    val train = docs(1L -> "a b a b a b c d", 2L -> "a c a b")
    val probe = docs(10L -> "a b c d", 11L -> "x y")
    val full = LanguageModel.train(train, "doc_id", "text")
    val pruned = LanguageModel.train(train, "doc_id", "text", minCount = 2L)
    // c d / a c (count 1) drop from the pruned model's bigram table
    assert(pruned.bigramCounts.count() < full.bigramCounts.count())
    assert(pruned.vocabSize === full.vocabSize)
    val f = LanguageModel.scoreFluencyPpm(probe, full, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val p = LanguageModel.scoreFluencyPpm(probe, pruned, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    for (id <- Seq(10L, 11L)) assert(p(id) <= f(id))
  }

  test("save/load round-trip: scoring against the persisted artifact is bit-identical") {
    val train = docs(1L -> "a b a b c", 2L -> "a c a b")
    val probe = docs(10L -> "a b c d", 11L -> "c a", 12L -> "x")
    val lm = LanguageModel.train(train, "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lm").toString
    LanguageModel.save(lm, path)
    val loaded = LanguageModel.load(spark, path)
    assert(loaded.vocabSize === lm.vocabSize)
    def scored(m: LanguageModel.BigramLm) =
      LanguageModel.scoreFluencyPpm(probe, m, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
    assert(scored(loaded) === scored(lm))
    // retrain-overwrite replaces the artifact, not accretes it
    LanguageModel.save(LanguageModel.train(train.filter($"doc_id" === 1L),
      "doc_id", "text"), path)
    val retrained = LanguageModel.load(spark, path)
    assert(retrained.vocabSize === 3L) // {a, b, c}
  }

  test("retrievalMrr-adjacent degenerate inputs: collocations and LM on corpora nothing survives") {
    // collocations: no pair reaches minCount -> empty, not a crash
    val sparse = docs(1L -> "p q", 2L -> "r s", 3L -> "t u")
    assert(TermStats.collocations(sparse, "doc_id", "text",
      minCount = 2L, topK = 10).count() === 0L)
    // LM train on an empty frame fails loud (V = 0 has no smoothing)
    val empty = docs()
    val err = intercept[IllegalArgumentException] {
      LanguageModel.train(empty, "doc_id", "text")
    }
    assert(err.getMessage.contains("training corpus is empty"))
    // minCount below the discount floor rejected
    assertThrows[IllegalArgumentException] {
      TermStats.collocations(sparse, "doc_id", "text", minCount = 1L)
    }
  }

  test("invariants on generated corpora: scores in [0, 1e6], oov <= n_bigrams, self-scored train has no OOV") {
    // deterministic pseudo-random corpus: words derived from a mixing
    // hash, no RNG — rerun-stable like everything else in the repo
    def word(seed: Long): String = {
      val h = (seed * 0x9E3779B97F4A7C15L) >>> 40
      s"w${h % 37}"
    }
    val corpus = docs((0L until 60L).map(i =>
      i -> (0 until (3 + (i % 7)).toInt).map(j => word(i * 31 + j)).mkString(" ")): _*)
    val lm = LanguageModel.train(corpus, "doc_id", "text")
    // per-bigram contribution is (cb+1)e6 div (cp+V) with cb <= cp and
    // V >= 1, so every score is bounded by 1e6 — the ppm scale is real
    val rows = LanguageModel.scoreFluencyPpm(corpus, lm, "doc_id", "text").collect()
    for (r <- rows) {
      val (nb, oov, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ppm >= 0L && ppm <= 1000000L, s"score out of ppm range: $r")
      assert(oov >= 0L && oov <= nb, s"oov exceeds bigram count: $r")
    }
    // self-scoring the unpruned training corpus can never meet an OOV
    // bigram (minCount = 1 keeps every training transition)
    assert(rows.map(_.getLong(2)).sum === 0L,
      "train-set self-scoring found an OOV bigram in its own model")
  }

  test("empty text: the single empty token is in-vocabulary, no bigrams, score 0") {
    val train = docs(1L -> "", 2L -> "a b")
    val lm = LanguageModel.train(train, "doc_id", "text")
    assert(lm.vocabSize === 3L) // {"", a, b}
    val r = LanguageModel.scoreFluencyPpm(docs(10L -> ""), lm, "doc_id", "text")
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((0L, 0L, 0L)))
  }

  test("collocations: single-token and empty docs contribute nothing; an all-degenerate corpus yields empty, not a crash (VERDICT r10 #8)") {
    // every doc has < 2 tokens: no bigram can exist at any minCount
    val degenerate = docs(1L -> "", 2L -> "solo", 3L -> "   ", 4L -> "x")
    assert(TermStats.collocations(degenerate, "doc_id", "text",
      minCount = 2L, topK = 10).count() === 0L)
    // degenerate docs mixed into a real corpus contribute no PAIRS —
    // the same collocations at the same counts come out; only the
    // unigram token total (the lift denominator) sees their tokens,
    // which is by design (they are corpus tokens)
    val real = (10L until 20L).map(i => i -> "big data big data pipeline").toSeq
    val mixed = docs((real ++ Seq(1L -> "", 2L -> "solo")): _*)
    val clean = docs(real: _*)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      TermStats.collocations(df, "doc_id", "text", minCount = 5L, topK = 10)
        .orderBy("w1", "w2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(pairsOf(mixed) === pairsOf(clean))
    // trigram LM on a corpus where no doc reaches 3 tokens: trains
    // (unigrams exist) and scores everything as the too-short class
    val lm3 = LanguageModel.trainTrigram(docs(1L -> "a b", 2L -> "c"), "doc_id", "text")
    assert(lm3.trigramCounts.count() === 0L)
    val r = LanguageModel.scoreFluency3Ppm(docs(9L -> "a b"), lm3, "doc_id", "text")
      .collect().head
    assert((r.getLong(1), r.getLong(5)) === ((0L, 0L)))
  }

  test("train is single-pass: count tables scan the checkpointed tagged counts, never re-tokenize (VERDICT r10 #7)") {
    val lm = LanguageModel.train(docs(1L -> "a b c a b"), "doc_id", "text")
    val t3 = LanguageModel.trainTrigram(docs(1L -> "a b c a b c"), "doc_id", "text")
    for (f <- Seq(lm.bigramCounts, lm.prefixCounts,
        t3.trigramCounts, t3.bigramCounts, t3.unigramCounts)) {
      val plan = f.queryExecution.executedPlan.toString
      assert(!plan.contains("split("),
        s"count table must read materialized counts, not re-tokenize:\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"count table must scan the checkpointed frame:\n$plan")
    }
  }

  test("trainTrigram + scoreFluency3Ppm: every backoff level hand-computed exactly") {
    // training: "a b c a b c" -> trigrams {a b c:2, b c a:1, c a b:1},
    // bigrams {a b:2, b c:2, c a:1}, unigrams {a:2, b:2, c:2}, N=6
    val lm = LanguageModel.trainTrigram(docs(1L -> "a b c a b c"), "doc_id", "text")
    assert(lm.totalTokens === 6L)
    assert(lm.trigramCounts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a b c" -> 2L, "b c a" -> 1L, "c a b" -> 1L))
    assert(lm.bigramCounts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a b" -> 2L, "b c" -> 2L, "c a" -> 1L))
    val scored = LanguageModel.scoreFluency3Ppm(docs(
        10L -> "a b c",  // trigram hit: 2*1e6 DIV c(a b)=2 -> 1000000
        11L -> "x a b",  // backoff bigram "a b"=2 over c(a)=2 -> 400000
        12L -> "b c b",  // backoff unigram b=2 over N=6 -> 53333
        13L -> "a b x",  // OOV tail: 0
        14L -> "a b"),   // too short: n_trigrams=0
        lm, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(scored(10L) === ((1L, 0L, 0L, 0L, 1000000L)))
    assert(scored(11L) === ((1L, 1L, 0L, 0L, 400000L)))
    assert(scored(12L) === ((1L, 0L, 1L, 0L, 53333L)))
    assert(scored(13L) === ((1L, 0L, 0L, 1L, 0L)))
    assert(scored(14L) === ((0L, 0L, 0L, 0L, 0L)))
  }

  test("trigram screen: fluent text outscores shuffled-token text by more than the bigram screen margin") {
    val fluent = (0L until 40L).map(i =>
      i -> "the cat sat on the mat and the dog ran to the cat")
    val garbage = (100L until 110L).map(i =>
      i -> "mat the to cat dog sat and ran on the mat dog to sat")
    val all = docs((fluent ++ garbage): _*)
    val lm3 = LanguageModel.trainTrigram(docs(fluent: _*), "doc_id", "text")
    val s3 = LanguageModel.scoreFluency3Ppm(all, lm3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    val worstFluent = fluent.map(f => s3(f._1)).min
    val bestGarbage = garbage.map(g => s3(g._1)).max
    assert(worstFluent > bestGarbage * 5,
      s"fluent floor $worstFluent should dominate garbage ceiling $bestGarbage")
    // the trigram screen separates at least as hard as the bigram one
    // on the same corpus (relative margin, both integer ppm)
    val lm2 = LanguageModel.train(docs(fluent: _*), "doc_id", "text")
    val s2 = LanguageModel.scoreFluencyPpm(all, lm2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val margin3 = worstFluent.toDouble / math.max(1L, bestGarbage)
    val margin2 = fluent.map(f => s2(f._1)).min.toDouble /
      math.max(1L, garbage.map(g => s2(g._1)).max)
    assert(margin3 >= margin2,
      s"trigram margin $margin3 should be >= bigram margin $margin2")
  }

  test("trigram: empty corpus loud; minCount prunes trigrams only") {
    val train = docs(1L -> "a b c a b c d", 2L -> "a b c x")
    val probe = docs(10L -> "a b c d", 11L -> "z z z", 12L -> "a")
    val lm = LanguageModel.trainTrigram(train, "doc_id", "text")
    def scored(m: LanguageModel.TrigramLm) =
      LanguageModel.scoreFluency3Ppm(probe, m, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
    assertThrows[IllegalArgumentException] {
      LanguageModel.trainTrigram(docs(), "doc_id", "text")
    }
    val pruned = LanguageModel.trainTrigram(train, "doc_id", "text", minCount = 2L)
    assert(pruned.trigramCounts.count() < lm.trigramCounts.count())
    assert(pruned.bigramCounts.count() === lm.bigramCounts.count())
    assert(pruned.unigramCounts.count() === lm.unigramCounts.count())
    // pruning only lowers scores (denominators never shrink)
    val f = scored(lm).map(r => r.getLong(0) -> r.getLong(5)).toMap
    val p = scored(pruned).map(r => r.getLong(0) -> r.getLong(5)).toMap
    for (id <- Seq(10L, 11L, 12L)) assert(p(id) <= f(id))
  }

  test("scoreContrastPpm ≡ the two-pass composition, bit for bit") {
    import spark.implicits._
    val pool = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "der hund sitzt auf dem teppich"),
      (4L, "mat the on sat cat the"),
      (5L, "x")).toDF("doc_id", "text")
    val lmT = LanguageModel.train(pool.filter($"doc_id" <= 2L), "doc_id", "text")
    val lmR = LanguageModel.train(pool, "doc_id", "text")
    val one = LanguageModel.scoreContrastPpm(pool, lmT, lmR, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "target_ppm", "raw_ppm", "contrast_ppm")
      .collect().toSeq
    def f(lm: LanguageModel.BigramLm) =
      LanguageModel.scoreFluencyPpm(pool, lm, "doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val ft = f(lmT); val fr = f(lmR)
    for (r <- one) {
      val id = r.getLong(0)
      assert(r.getLong(1) === ft(id)._1)
      assert(r.getLong(2) === ft(id)._2, s"target_ppm doc $id")
      assert(r.getLong(3) === fr(id)._2, s"raw_ppm doc $id")
      assert(r.getLong(4) === ft(id)._2 - fr(id)._2)
    }
    // in-domain text scores above out-of-domain under the contrast
    val byId = one.map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(byId(1L) > byId(3L), "target-domain doc must out-contrast German")
    // zero-bigram doc is the separate too-short class: all-zero scores
    assert(byId(5L) === 0L)
  }
}
