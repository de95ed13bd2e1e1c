package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the CCNet/KenLM
  * quality filter re-expressed Spark-first. Real pretraining pipelines
  * score every document against an LM trained on a trusted slice and
  * drop the worst tail; this is that loop with the model itself being
  * two count tables the engine builds, so there is no external
  * artifact and no native library.
  *
  * Model = add-one-smoothed bigram LM over whitespace tokens:
  * p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V), with V the distinct
  * token count of the training slice. The model is DATA, not driver
  * state: `bigramCounts` / `prefixCounts` are plain frames keyed by
  * token strings, so scoring is two hash equi-joins that shuffle the
  * exploded corpus by (bigram) then (w1) — the standard token-join
  * shape that scales to billions of distinct n-grams where a broadcast
  * model cannot. Only the scalar V crosses the driver. Hot prefixes
  * ("the", "") are the skew case: the count aggregations are map-side
  * combinable so the shuffle carries (token, partial-count) pairs, and
  * the scoring join is AQE-skew-splittable because the model side of a
  * hot key is ONE row.
  *
  * Scoring form: [[scoreFluencyPpm]] is an exact-integer proxy (mean
  * per-bigram conditional probability in ppm, each term floor-divided
  * before the sum, the sum floor-divided by the bigram count). Every
  * value is a BIGINT any SQL engine reproduces bit-for-bit, so the
  * catalog can hash-check it (q184). It ranks documents like CCNet's
  * −mean log₂ p(w2|w1) in the high-probability regime, because both
  * are monotone in the same per-bigram conditionals.
  *
  * Pruning: `minCount` drops bigrams seen fewer times from the model
  * (CCNet prunes its KenLM the same way) — scoring then treats them as
  * unseen (smoothed floor). Default 1 keeps the model exact for the
  * oracle. At 100 TB, minCount ≈ 2–5 typically shrinks the bigram
  * table ~5–10× (singleton n-grams dominate) at negligible score
  * drift.
  *
  * Tokenization matches the catalog's text family: `split(trim(text),
  * "\\s+")` — an empty document yields the single empty token, which
  * both Spark and DuckDB's `regexp_split_to_array` produce, so the
  * convention is cross-engine stable (see q133's oracle).
  */
object LanguageModel {

  /** The trained model: two count frames + the vocabulary scalar.
    * `vocabSize` is materialized at train time (one distinct-count
    * action — the only driver-side value in the loop).
    */
  final case class BigramLm(
      bigramCounts: DataFrame, // (bigram, c_bigram)
      prefixCounts: DataFrame, // (w1, c_prefix)
      vocabSize: Long)

  private def tokensCol = split(trim(col("__text")), "\\s+")

  /** (id, w1, bigram) — one row per adjacent token pair. Documents
    * with fewer than two tokens contribute no rows (guarded empty
    * array, not a null explode).
    *
    * Positions-first generate (r17, the q193/`windowGramHashes` rule):
    * the generator explodes only the cheap int position sequence and
    * the string pair is built in the projection ABOVE it, once per
    * output row — the previous shape built the whole per-document pair
    * array INSIDE the generator, and `InferFiltersFromGenerate` copied
    * that O(len) string builder into a pushed-down filter, so every
    * document paid the full concat construction twice. Identical
    * output: for n ≥ 2 positions 0..n−2 emit (__ws[i],
    * concat(__ws[i], ' ', __ws[i+1])) — the exact rows the transform
    * produced. */
  private def explodedBigrams(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol).as("__text"))
      .withColumn("__ws", tokensCol)
      .select(col(idCol), col("__ws"),
        explode(expr("CASE WHEN size(__ws) >= 2 THEN sequence(0, size(__ws) - 2) " +
          "ELSE CAST(array() AS array<int>) END")).as("__i"))
      .select(col(idCol), expr("__ws[__i]").as("w1"),
        expr("concat(__ws[__i], ' ', __ws[__i + 1])").as("bigram"))

  /** One corpus pass → every count table an n-gram model needs
    * (VERDICT r10 #7). Each document's token array emits one tagged
    * `(t, k)` row per n-gram role — e.g. `u`/every token, `p`/every
    * token with a successor, `b`/every adjacent pair — and ONE
    * map-side-combined `groupBy(t, k)` folds them all. The grouped
    * result is vocabulary-sized (distinct keys, not corpus positions),
    * so it is locally checkpointed: the three-ish consumers (count
    * tables, V, N) read materialized blocks instead of each re-running
    * the corpus tokenization — the r10 shape paid three full
    * tokenizations per training run. (The r10 lesson that
    * checkpointing multi-referenced SMALL aggregations is slower than
    * lazy recount doesn't apply here: the recount being avoided is the
    * full corpus scan itself, not a cheap re-aggregation.)
    */
  private def taggedNgramCounts(
      docs: DataFrame, textCol: String, roles: Seq[NgramRole]): DataFrame = {
    // Positions-first generate (r17, the q193/`windowGramHashes` rule):
    // the old shape concat'd per-role STRUCT ARRAYS (each an O(len)
    // string-concat builder) as the generator input, and
    // InferFiltersFromGenerate copied that whole builder into a
    // pushed-down filter — every document paid the n-gram string
    // construction twice. Now the generator explodes one flat int
    // index over the concatenated role ranges (the inferred filter
    // re-derives only size() arithmetic) and the (t, k) strings are
    // built in the projection above, once per output row. Role ranges
    // are laid out in `roles` order, so the emitted multiset of (t, k)
    // rows — all that the groupBy sees — is identical.
    val cnts = roles.map(r => s"(${r.cnt})")
    def prefix(k: Int): String = if (k == 0) "0" else cnts.take(k).mkString(" + ")
    val total = prefix(roles.size)
    def branches(f: (NgramRole, String) => String): String =
      roles.zipWithIndex.map { case (r, k) =>
        val local = if (k == 0) "__i" else s"__i - (${prefix(k)})"
        if (k == roles.size - 1) s"ELSE ${f(r, local)}"
        else s"WHEN __i < ${prefix(k + 1)} THEN ${f(r, local)}"
      }.mkString("CASE ", " ", " END")
    docs.select(col(textCol).as("__text"))
      .withColumn("__ws", tokensCol)
      .select(col("__ws"),
        explode(expr(s"CASE WHEN ($total) >= 1 THEN sequence(0, ($total) - 1) " +
          "ELSE CAST(array() AS array<int>) END")).as("__i"))
      .select(expr(branches((r, _) => s"'${r.tag}'")).as("t"),
        expr(branches((r, j) => r.elem(s"($j)"))).as("k"))
      .groupBy(col("t"), col("k")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
  }

  /** One n-gram role of the tagged single-pass count: `cnt` — SQL for
    * how many rows a document contributes (in terms of `__ws`), `elem`
    * — SQL for the k-string at 0-based local index `j` within the
    * role's range. Counts/elements reproduce the r11 array builders
    * exactly: u = every token, p = every token with a successor
    * (indices 0..n−2), b = adjacent pairs, t3 = adjacent triples.
    */
  private final case class NgramRole(
      tag: String, cnt: String, elem: String => String)

  private val uniRole = NgramRole("u", "size(__ws)", j => s"__ws[$j]")
  private val prefixRole = NgramRole("p",
    "greatest(size(__ws) - 1, 0)", j => s"__ws[$j]")
  private val bigramRole = NgramRole("b",
    "greatest(size(__ws) - 1, 0)",
    j => s"concat(__ws[$j], ' ', __ws[$j + 1])")
  private val trigramRole = NgramRole("t3",
    "greatest(size(__ws) - 2, 0)",
    j => s"concat(__ws[$j], ' ', __ws[$j + 1], ' ', __ws[$j + 2])")

  /** Train the bigram LM on `docs` in ONE corpus pass (r11, VERDICT
    * r10 #7): the tagged-role explode feeds bigram counts, prefix
    * counts, and V from a single tokenization — the r10 shape ran
    * three (bigram agg, prefix agg, distinct-count for V), three full
    * tokenizations at 100 TB. Output is bit-identical: `c_prefix`
    * counts tokens-with-a-successor, exactly the w1 occurrences of the
    * exploded-bigram frame, and V counts distinct tokens over ALL
    * positions. `minCount` > 1 prunes rare bigrams from the model
    * (prefix counts and V stay unpruned — the smoothing denominator
    * must not shrink when the numerator table does, or pruned scores
    * would exceed unpruned ones). The artifact pattern still holds for
    * repeated scoring: train once, [[save]] once, score from [[load]].
    */
  def train(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): BigramLm = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val counts = taggedNgramCounts(docs, textCol,
      Seq(uniRole, prefixRole, bigramRole))
    val cb = counts.filter(col("t") === "b")
      .select(col("k").as("bigram"), col("c").as("c_bigram"))
      .filter(col("c_bigram") >= minCount)
    val cp = counts.filter(col("t") === "p")
      .select(col("k").as("w1"), col("c").as("c_prefix"))
    val v = counts.filter(col("t") === "u").count()
    require(v > 0, "training corpus is empty — the smoothing denominator needs V >= 1")
    BigramLm(cb, cp, v)
  }

  /** Exact-integer fluency score per document:
    * `fluency_ppm = (Σ over bigrams ⌊(c(w1w2)+1)·10⁶ / (c(w1)+V)⌋) DIV
    * n_bigrams`, plus the bigram and out-of-vocabulary counts. Higher
    * = more probable under the model; repetitive or shuffled-token
    * text scores low because its transitions are unseen (the smoothed
    * floor ≈ 10⁶/V ppm each). Documents with no bigrams score 0 with
    * n_bigrams = 0 — a screen downstream should treat them as a
    * separate (too-short) class, not as disfluent. */
  def scoreFluencyPpm(docs: DataFrame, lm: BigramLm, idCol: String,
      textCol: String): DataFrame = {
    val b = explodedBigrams(docs, idCol, textCol)
    val contrib = expr(
      s"(coalesce(c_bigram, 0L) + 1L) * 1000000L DIV (coalesce(c_prefix, 0L) + ${lm.vocabSize}L)")
    val perDoc = b
      .join(lm.bigramCounts, Seq("bigram"), "left")
      .join(lm.prefixCounts, Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c_bigram").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(contrib).as("__ppm_sum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams", "n_oov"))
      .withColumn("fluency_ppm",
        when(col("n_bigrams") === 0L, 0L)
          .otherwise(expr("CAST(__ppm_sum DIV n_bigrams AS BIGINT)")))
      .drop("__ppm_sum")
  }

  /** Contrastive (importance-weight) score against TWO models in one
    * corpus pass — the DSIR / CCNet data-selection signal (Xie et al.
    * 2023 "Data Selection for Language Models via Importance
    * Resampling"; CCNet thresholds the same contrast against a
    * Wikipedia LM): documents that the TARGET-domain model likes more
    * than the RAW-pool model carry positive `contrast_ppm` and are the
    * ones importance resampling keeps. Both scores are the exact
    * [[scoreFluencyPpm]] integer form, so `contrast_ppm = target_ppm −
    * raw_ppm` is oracle-hashable, and equals the two-pass composition
    * bit-for-bit (spec-pinned) while exploding and aggregating the
    * corpus ONCE: four model-side equi-joins ordered bigram-bigram
    * then w1-w1 so each key's exchange is reused by the adjacent join.
    * Model frames are never broadcast (billions of n-grams at 100 TB).
    */
  def scoreContrastPpm(docs: DataFrame, lmTarget: BigramLm, lmRaw: BigramLm,
      idCol: String, textCol: String): DataFrame = {
    val b = explodedBigrams(docs, idCol, textCol)
    val cbT = lmTarget.bigramCounts
      .select(col("bigram"), col("c_bigram").as("__cb_t"))
    val cbR = lmRaw.bigramCounts
      .select(col("bigram"), col("c_bigram").as("__cb_r"))
    val cpT = lmTarget.prefixCounts
      .select(col("w1"), col("c_prefix").as("__cp_t"))
    val cpR = lmRaw.prefixCounts
      .select(col("w1"), col("c_prefix").as("__cp_r"))
    def contrib(cb: String, cp: String, v: Long) = expr(
      s"(coalesce($cb, 0L) + 1L) * 1000000L DIV (coalesce($cp, 0L) + ${v}L)")
    val perDoc = b
      .join(cbT, Seq("bigram"), "left")
      .join(cbR, Seq("bigram"), "left")
      .join(cpT, Seq("w1"), "left")
      .join(cpR, Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(contrib("__cb_t", "__cp_t", lmTarget.vocabSize)).as("__sum_t"),
        sum(contrib("__cb_r", "__cp_r", lmRaw.vocabSize)).as("__sum_r"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .withColumn("target_ppm",
        when(col("n_bigrams") === 0L, 0L)
          .otherwise(expr("CAST(__sum_t DIV n_bigrams AS BIGINT)")))
      .withColumn("raw_ppm",
        when(col("n_bigrams") === 0L, 0L)
          .otherwise(expr("CAST(__sum_r DIV n_bigrams AS BIGINT)")))
      .withColumn("contrast_ppm", col("target_ppm") - col("raw_ppm"))
      .drop("__sum_t", "__sum_r")
  }

  /** Persist a trained model as the deployable artifact (the CCNet
    * shape: the LM ships to the scoring cluster as files, not as a
    * training-job closure): two count tables + a 1-row meta table.
    * Parquet with overwrite — retraining replaces the artifact
    * atomically enough for a batch cadence; version under dated paths
    * if readers race retrains.
    */
  def save(lm: BigramLm, path: String): Unit = {
    val spark = lm.bigramCounts.sparkSession
    import spark.implicits._
    lm.bigramCounts.write.mode("overwrite").parquet(s"$path/bigram_counts")
    lm.prefixCounts.write.mode("overwrite").parquet(s"$path/prefix_counts")
    Seq(lm.vocabSize).toDF("vocab_size")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted model. Scoring against a loaded model is
    * bit-identical to scoring against the in-memory one (spec-pinned):
    * the model was already plain data, so the round-trip changes
    * nothing but provenance.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): BigramLm =
    BigramLm(
      spark.read.parquet(s"$path/bigram_counts"),
      spark.read.parquet(s"$path/prefix_counts"),
      spark.read.parquet(s"$path/meta").head.getLong(0))

  // -----------------------------------------------------------------
  // Stupid-backoff trigram LM (r11, VERDICT r10 #3) — the higher-order
  // screen. CCNet's production filter is a 5-gram KenLM; the order
  // that matters architecturally is the BACKOFF, and stupid backoff
  // (Brants et al. 2007, "Large Language Models in Machine
  // Translation") is the published at-scale choice precisely because
  // it is counts-only: S(w3|w1w2) = c(w1w2w3)/c(w1w2) when the trigram
  // was seen, else α·S(w3|w2), else α²·c(w3)/N, with α = 0.4 and NO
  // renormalization — scores are relative, which is all a screening
  // threshold needs, and the model stays three count frames that join
  // by token keys (never broadcast; the bigram-LM posture above).
  // Integer-exact ppm form for the oracle: α = 2/5 exactly, so the
  // three branches are c₃·10⁶ DIV c₂ctx, c₂·400000 DIV c₁ctx, and
  // c₁·160000 DIV N — every value BIGINT on both engines.
  // -----------------------------------------------------------------

  /** The trained trigram model: three count frames + the corpus token
    * total. All joins at scoring time are token-keyed shuffles; only
    * the scalar N crosses the driver.
    */
  final case class TrigramLm(
      trigramCounts: DataFrame, // (trigram, c_tri)   key "w1 w2 w3"
      bigramCounts: DataFrame,  // (bigram, c_bi)     key "w1 w2"
      unigramCounts: DataFrame, // (w, c_uni)
      totalTokens: Long)

  /** (id, tri, ctx, bi, w3) — one row per adjacent token triple:
    * tri = "w1 w2 w3", ctx = "w1 w2" (trigram-level denominator),
    * bi = "w2 w3" (bigram-backoff numerator key), w3 alone for the
    * unigram floor. Documents with fewer than three tokens contribute
    * no rows. The backoff's c(w2) denominator rides on `w2`.
    */
  private def explodedTrigrams(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // positions-first generate — see [[explodedBigrams]] (r17): the
    // int position sequence is the generator input; the five string
    // keys are built in the projection above it, once per output row
    // instead of once in the generator and once in the inferred
    // filter's copy of the array builder.
    docs.select(col(idCol), col(textCol).as("__text"))
      .withColumn("__ws", tokensCol)
      .select(col(idCol), col("__ws"),
        explode(expr("CASE WHEN size(__ws) >= 3 THEN sequence(0, size(__ws) - 3) " +
          "ELSE CAST(array() AS array<int>) END")).as("__i"))
      .select(col(idCol),
        expr("concat(__ws[__i], ' ', __ws[__i + 1], ' ', __ws[__i + 2])").as("tri"),
        expr("concat(__ws[__i], ' ', __ws[__i + 1])").as("ctx"),
        expr("concat(__ws[__i + 1], ' ', __ws[__i + 2])").as("bi"),
        expr("__ws[__i + 1]").as("w2"), expr("__ws[__i + 2]").as("w3"))

  /** Train the stupid-backoff trigram LM in ONE corpus pass (the
    * [[taggedNgramCounts]] shape): unigram, bigram, and trigram counts
    * fold out of a single tokenization; N is the sum of the unigram
    * counts (an aggregation over the vocabulary-sized checkpointed
    * frame, not a second corpus scan). `minCount` prunes the TRIGRAM
    * table only — the denominators (bigram contexts, unigram
    * contexts, N) must stay unpruned or pruned scores would exceed
    * unpruned ones, and the bigram table doubles as the backoff
    * numerator where pruning would silently zero rare-but-seen
    * transitions.
    */
  def trainTrigram(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): TrigramLm = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val counts = taggedNgramCounts(docs, textCol,
      Seq(uniRole, bigramRole, trigramRole))
    val c3 = counts.filter(col("t") === "t3")
      .select(col("k").as("trigram"), col("c").as("c_tri"))
      .filter(col("c_tri") >= minCount)
    val c2 = counts.filter(col("t") === "b")
      .select(col("k").as("bigram"), col("c").as("c_bi"))
    val c1 = counts.filter(col("t") === "u")
      .select(col("k").as("w"), col("c").as("c_uni"))
    val n = c1.agg(coalesce(sum(col("c_uni")), lit(0L))).head.getLong(0)
    require(n > 0, "training corpus is empty — the unigram floor needs N >= 1")
    TrigramLm(c3, c2, c1, n)
  }

  /** Exact-integer stupid-backoff fluency per document. Per trigram
    * position the score is the first live backoff level (trigram seen
    * → c₃·10⁶ DIV c(ctx); bigram seen → c₂·400000 DIV c(w2); unigram
    * seen → c₁·160000 DIV N; else 0), floored BEFORE the per-document
    * sum, which is floored by the trigram count — both floors land on
    * the same side in any engine. A seen trigram implies its context
    * bigram was seen and a seen backoff bigram implies c(w2) ≥ 1, so
    * no live branch divides by NULL/0 (pruning exempts denominators —
    * see [[trainTrigram]]). Output also counts how far each document
    * backed off (`n_bo_bi`/`n_bo_uni`) and its OOV tail — the numbers
    * a screen inspects before trusting the score. Documents with
    * fewer than three tokens score 0 with n_trigrams = 0: a separate
    * too-short class, not disfluent.
    */
  def scoreFluency3Ppm(docs: DataFrame, lm: TrigramLm, idCol: String,
      textCol: String): DataFrame = {
    val b = explodedTrigrams(docs, idCol, textCol)
    val joined = b
      .join(lm.trigramCounts.select(col("trigram").as("tri"), col("c_tri")),
        Seq("tri"), "left")
      .join(lm.bigramCounts.select(col("bigram").as("ctx"), col("c_bi").as("c_ctx")),
        Seq("ctx"), "left")
      .join(lm.bigramCounts.select(col("bigram").as("bi"), col("c_bi")),
        Seq("bi"), "left")
      .join(lm.unigramCounts.select(col("w").as("w2"), col("c_uni").as("c_w2")),
        Seq("w2"), "left")
      .join(lm.unigramCounts.select(col("w").as("w3"), col("c_uni").as("c_w3")),
        Seq("w3"), "left")
    val contrib = expr(
      s"""CASE WHEN c_tri IS NOT NULL THEN c_tri * 1000000 DIV c_ctx
         |     WHEN c_bi IS NOT NULL THEN c_bi * 400000 DIV c_w2
         |     WHEN c_w3 IS NOT NULL THEN c_w3 * 160000 DIV ${lm.totalTokens}
         |     ELSE 0 END""".stripMargin)
    val perDoc = joined.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_trigrams"),
      sum(when(col("c_tri").isNull && col("c_bi").isNotNull, 1L)
        .otherwise(0L)).as("n_bo_bi"),
      sum(when(col("c_tri").isNull && col("c_bi").isNull && col("c_w3").isNotNull, 1L)
        .otherwise(0L)).as("n_bo_uni"),
      sum(when(col("c_tri").isNull && col("c_bi").isNull && col("c_w3").isNull, 1L)
        .otherwise(0L)).as("n_oov"),
      sum(contrib).as("__ppm_sum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_trigrams", "n_bo_bi", "n_bo_uni", "n_oov"))
      .withColumn("fluency3_ppm",
        when(col("n_trigrams") === 0L, 0L)
          .otherwise(expr("CAST(__ppm_sum DIV n_trigrams AS BIGINT)")))
      .drop("__ppm_sum")
  }
}
