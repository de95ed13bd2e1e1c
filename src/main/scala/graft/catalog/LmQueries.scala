package graft.catalog

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Classifier, LangId, LanguageModel, Sampling, TermStats}
import graft.catalog.CatalogSupport._

/** Corpus-trained models: n-gram LM fluency and coverage,
  * collocations, importance selection, the logistic quality classifier,
  * BPE merges/encoding and trained language ID — with the unrolled-CTE
  * oracles that replay their training loops.
  */
object LmQueries extends Family {
  val name = "lm"

  /** q190's oracle: the fixed-point logistic-regression training loop
    * (Classifier.trainLogistic) unrolled to `iters` CTE pairs. Every
    * arithmetic step mirrors the engine exactly — ppm features with
    * truncating divisions, hard-sigmoid clamp, HUGEINT gradient sums (the
    * DECIMAL(38,0) twin), and DuckDB's `//`, which truncates toward
    * zero on signed operands just like the engine's tdiv/BigInt
    * convention.
    */
  private def logisticOracleSql(iters: Int): String = {
    val fs = Seq("x0", "x1", "x2", "x3")
    def g(alias: String) = fs.map(c => s"g_$c").mkString(", ")
    def zOf(w: String) = fs.map(c => s"$w.w_$c * $c").mkString(" + ")
    def sigma(w: String) =
      s"GREATEST(0, LEAST(1000000, 500000 + ((${zOf(w)}) // 1000000) // 4))"
    val sb = new StringBuilder
    sb.append(
      """WITH f AS (
        |  SELECT doc_id,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         CAST(1000000 AS BIGINT) AS x0,
        |         CAST(stop * 1000000 // GREATEST(ntok, 1) AS BIGINT) AS x1,
        |         CAST(alpha * 1000000 // GREATEST(len, 1) AS BIGINT) AS x2,
        |         CAST(LEAST(len, 2000) * 500 AS BIGINT) AS x3
        |  FROM (
        |    SELECT doc_id, lang, length(text) AS len,
        |           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
        |           CASE WHEN length(trim(text)) = 0 THEN 0
        |                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |               x -> list_contains(['the','a','and','of','to','in','is','that','it','for'], x))) AS stop
        |    FROM documents)
        |), tr AS (SELECT * FROM f WHERE doc_id % 2 = 0
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr
        |), g1 AS (
        |  SELECT """.stripMargin)
    sb.append(fs.map(c =>
      s"SUM(CAST(500000 - y * 1000000 AS HUGEINT) * $c) AS g_$c").mkString(",\n         "))
    sb.append("\n  FROM tr\n), w1 AS (\n  SELECT ")
    sb.append(fs.map(c =>
      s"0 - (4 * g_$c) // (n.n * 1000000) AS w_$c").mkString(",\n         "))
    sb.append("\n  FROM g1, n\n)")
    for (t <- 2 to iters) {
      val prev = s"w${t - 1}"
      sb.append(s", e$t AS (\n")
      sb.append(s"  SELECT tr.*, CAST(${sigma(prev)} - y * 1000000 AS HUGEINT) AS err\n")
      sb.append(s"  FROM tr, $prev\n), g$t AS (\n  SELECT ")
      sb.append(fs.map(c => s"SUM(err * $c) AS g_$c").mkString(",\n         "))
      sb.append(s"\n  FROM e$t\n), w$t AS (\n  SELECT ")
      sb.append(fs.map(c =>
        s"$prev.w_$c - (4 * g_$c) // (n.n * 1000000) AS w_$c").mkString(",\n         "))
      sb.append(s"\n  FROM g$t, $prev, n\n)")
    }
    val wf = s"w$iters"
    sb.append(
      s"""
         |SELECT doc_id, label, score_ppm,
         |       CAST(CASE WHEN score_ppm >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS predicted
         |FROM (
         |  SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
         |         CAST(${sigma(wf)} AS BIGINT) AS score_ppm
         |  FROM f, $wf)
         |ORDER BY doc_id""".stripMargin)
    sb.toString
  }

  /** The BPE merge loop unrolled as chained CTEs (q191/q192): w{i} is
    * the word table after i merges in the engine's wrapped-symbol
    * representation, p{i} the weighted adjacent-pair counts, m{i} the
    * deterministic argmax (count DESC, pair ASC), and the merge
    * application is DuckDB's literal `replace` — which scans left to
    * right, non-overlapping, exactly like Spark's `StringReplace`, so
    * the greedy BPE semantics match by construction (see Bpe
    * scaladoc). `encode = false` emits the six rules with post-merge
    * symbol totals; `encode = true` applies all rules and emits the
    * top-50 learned vocabulary with exact weighted counts.
    */
  private def bpeOracleSql(nMerges: Int, encode: Boolean): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents
        |), wc AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS wcount
        |  FROM tok WHERE word <> '' GROUP BY 1
        |), w0 AS (
        |  SELECT left(s, length(s) - 1) AS sym, wcount
        |  FROM (SELECT ' ' || regexp_replace(word, '(.)', '\1  ', 'g') AS s,
        |               wcount
        |        FROM wc)
        |)""".stripMargin)
    for (i <- 0 until nMerges) {
      sb.append(s""", p$i AS (
        |  SELECT a[j] AS l, a[j+1] AS r, CAST(SUM(wcount) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(sym), '  ') AS a, wcount FROM w$i),
        |       UNNEST(generate_series(1, len(a) - 1)) AS t(j)
        |  GROUP BY 1, 2
        |), m$i AS (
        |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
        |), w${i + 1} AS (
        |  SELECT replace(sym, ' ' || m.l || '  ' || m.r || ' ',
        |                 ' ' || m.l || m.r || ' ') AS sym, wcount
        |  FROM w$i, m$i m
        |)""".stripMargin)
      if (!encode) sb.append(s""", s${i + 1} AS (
        |  SELECT CAST(SUM(wcount * len(string_split(trim(sym), '  '))) AS BIGINT) AS st
        |  FROM w${i + 1}
        |)""".stripMargin)
    }
    if (encode) {
      sb.append(s"""
        |SELECT token, tcount FROM (
        |  SELECT token, CAST(SUM(wcount) AS BIGINT) AS tcount
        |  FROM (SELECT unnest(string_split(trim(sym), '  ')) AS token, wcount
        |        FROM w$nMerges)
        |  GROUP BY 1)
        |ORDER BY tcount DESC, token LIMIT 50""".stripMargin)
    } else {
      val rows = (0 until nMerges).map(i =>
        s"""  SELECT CAST(${i + 1} AS BIGINT) AS merge_rank, m$i.l AS left_sym,
           |         m$i.r AS right_sym, m$i.cnt AS pair_count, s${i + 1}.st AS symbol_total
           |  FROM m$i, s${i + 1}""".stripMargin)
      sb.append("\nSELECT * FROM (\n")
      sb.append(rows.mkString("\n  UNION ALL\n"))
      sb.append("\n)\nORDER BY merge_rank")
    }
    sb.toString
  }

  val entries: Seq[Entry] = Seq(
    // LM-style quality scoring: per-doc coverage of the corpus's
    // top-200 bigram vocabulary, in exact ppm — the integer-arithmetic
    // proxy for the perplexity filters LLM pipelines run (a doc whose
    // bigrams rarely appear in the corpus LM's head is an outlier).
    // One explode + one global top-k (broadcast-small) + one per-doc
    // agg; the q122 bigram construction, so both engines tokenize
    // identically.
    Entry("q133_docs_lm_coverage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ws = split(trim(col("text")), "\\s+")
      val bigrams = when(size(col("ws")) >= 2,
        expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .otherwise(expr("array()").cast("array<string>"))
      val exploded = docs.withColumn("ws", ws)
        .select(col("doc_id"), explode(bigrams).as("bigram"))
      val vocab = exploded.groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(200)
        .select(col("bigram"), lit(1L).as("__hit"))
      val perDoc = exploded
        .join(broadcast(vocab), Seq("bigram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_in_vocab"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_bigrams", "n_in_vocab"))
        .withColumn("coverage_ppm",
          when(col("n_bigrams") === 0L, 0L)
            .otherwise(expr("CAST((n_in_vocab * 1000000L) DIV n_bigrams AS BIGINT)")))
        .orderBy(col("doc_id"))
    },
      // q133: q122's bigram construction; top-200 vocabulary with the
      // same (count desc, bigram asc) deterministic boundary; integer
      // ppm coverage.
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |), v AS (
        |  SELECT bigram FROM (
        |    SELECT bigram, count(*) AS n FROM b GROUP BY 1
        |  ) ORDER BY n DESC, bigram LIMIT 200
        |), pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(CASE WHEN bigram IN (SELECT bigram FROM v)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab
        |  FROM b GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(pd.n_in_vocab, 0) AS n_in_vocab,
        |       CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0
        |            ELSE CAST(pd.n_in_vocab * 1000000 // pd.n_bigrams AS BIGINT)
        |       END AS coverage_ppm
        |FROM d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // corpus-trained bigram-LM fluency scoring (the CCNet/KenLM
    // perplexity filter): train the add-one bigram LM on the
    // doc_id % 5 != 0 slice, score EVERY document — exact-integer ppm
    // form so the gate hashes it. Model = count frames
    // joined by token keys, never broadcast — the 100 TB posture.
    Entry("q184_docs_lm_fluency", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = LanguageModel.train(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      LanguageModel.scoreFluencyPpm(docs, lm, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // q184: add-one bigram LM trained on the doc_id % 5 <> 0 slice —
      // every value is integer floor arithmetic (per-bigram ppm floored
      // BEFORE the sum, the sum floored by the bigram count), so both
      // engines agree on every boundary.
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |), tb AS (
        |  SELECT * FROM b WHERE doc_id % 5 <> 0
        |), cb AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bigram FROM tb GROUP BY 1
        |), cp AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_prefix FROM tb GROUP BY 1
        |), v AS (
        |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vs
        |  FROM (SELECT unnest(ws) AS w FROM d WHERE doc_id % 5 <> 0)
        |), sc AS (
        |  SELECT b.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(CASE WHEN cb.c_bigram IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_oov,
        |         SUM((COALESCE(cb.c_bigram, 0) + 1) * 1000000
        |             // (COALESCE(cp.c_prefix, 0) + vs)) AS ppm_sum
        |  FROM b LEFT JOIN cb USING (bigram) LEFT JOIN cp USING (w1), v
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(sc.n_oov, 0) AS n_oov,
        |       CASE WHEN COALESCE(sc.n_bigrams, 0) = 0 THEN 0
        |            ELSE CAST(sc.ppm_sum // sc.n_bigrams AS BIGINT)
        |       END AS fluency_ppm
        |FROM d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // collocation mining: word2phrase/PMI lift over adjacent
    // token pairs — the phrase-discovery pass before tokenizer
    // training or phrase-aware dedup. Integer lift with the delta-1
    // rare-pair discount; products in DECIMAL(38,0)/HUGEINT.
    Entry("q186_docs_collocations", (s, dir) => {
      TermStats.collocations(t(s, dir, "documents"), "doc_id", "text",
          minCount = 5L, topK = 100)
        .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
    },
      // q186: word2phrase lift, all-integer with the delta-1 discount;
      // the (lift DESC, w1, w2) total order makes the top-100 cut
      // engine-stable.
      """WITH d AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |), uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(ws) AS w FROM d) GROUP BY 1
        |), tt AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS t_tokens FROM uni
        |), big AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 5
        |)
        |SELECT big.w1, big.w2, big.c12,
        |       CAST((CAST(big.c12 - 1 AS HUGEINT) * tt.t_tokens * 1000000)
        |            // (CAST(c1.c AS HUGEINT) * c2.c) AS BIGINT) AS lift_e6
        |FROM big
        |JOIN uni c1 ON c1.w = big.w1
        |JOIN uni c2 ON c2.w = big.w2
        |CROSS JOIN tt
        |ORDER BY lift_e6 DESC, big.w1, big.w2
        |LIMIT 100""".stripMargin),

    // stupid-backoff trigram fluency: the
    // higher-order LM screen — counts-only backoff (Brants 2007)
    // needs no renormalization, the published at-scale choice; the
    // α = 2/5 ppm arithmetic is all-BIGINT so the gate hashes the
    // full result. Same train/score split as q184; model = three
    // count frames joined by token keys, never broadcast.
    Entry("q187_docs_lm_trigram", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = LanguageModel.trainTrigram(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      LanguageModel.scoreFluency3Ppm(docs, lm, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // q187: stupid-backoff trigram fluency — per-position score is the
      // first live backoff level, floored before the per-doc sum, the
      // sum floored by the trigram count; α = 2/5 exactly, so the three
      // branches are ·10⁶, ·400000, ·160000 integer forms. A seen
      // trigram implies its context bigram was seen and a seen backoff
      // bigram implies c(w2) ≥ 1, so no branch divides by NULL.
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), tp AS (
        |  SELECT doc_id,
        |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tri,
        |         ws[i] || ' ' || ws[i+1] AS ctx,
        |         ws[i+1] || ' ' || ws[i+2] AS bi,
        |         ws[i+1] AS w2, ws[i+2] AS w3
        |  FROM d, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        |), bp AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE doc_id % 5 <> 0
        |), up AS (
        |  SELECT unnest(ws) AS w FROM d WHERE doc_id % 5 <> 0
        |), c3 AS (
        |  SELECT tri AS trigram, CAST(count(*) AS BIGINT) AS c_tri
        |  FROM tp WHERE doc_id % 5 <> 0 GROUP BY 1
        |), c2 AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bi FROM bp GROUP BY 1
        |), c1 AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c_uni FROM up GROUP BY 1
        |), nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM up
        |), sc AS (
        |  SELECT tp.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_trigrams,
        |         CAST(SUM(CASE WHEN c3.c_tri IS NULL AND cb.c_bi IS NOT NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bo_bi,
        |         CAST(SUM(CASE WHEN c3.c_tri IS NULL AND cb.c_bi IS NULL
        |                        AND u3.c_uni IS NOT NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bo_uni,
        |         CAST(SUM(CASE WHEN c3.c_tri IS NULL AND cb.c_bi IS NULL
        |                        AND u3.c_uni IS NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         SUM(CASE WHEN c3.c_tri IS NOT NULL
        |                  THEN c3.c_tri * 1000000 // cx.c_bi
        |                  WHEN cb.c_bi IS NOT NULL
        |                  THEN cb.c_bi * 400000 // u2.c_uni
        |                  WHEN u3.c_uni IS NOT NULL
        |                  THEN u3.c_uni * 160000 // nn.n
        |                  ELSE 0 END) AS ppm_sum
        |  FROM tp
        |  LEFT JOIN c3 ON tp.tri = c3.trigram
        |  LEFT JOIN c2 cx ON tp.ctx = cx.bigram
        |  LEFT JOIN c2 cb ON tp.bi = cb.bigram
        |  LEFT JOIN c1 u2 ON tp.w2 = u2.w
        |  LEFT JOIN c1 u3 ON tp.w3 = u3.w
        |  CROSS JOIN nn
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       COALESCE(sc.n_trigrams, 0) AS n_trigrams,
        |       COALESCE(sc.n_bo_bi, 0) AS n_bo_bi,
        |       COALESCE(sc.n_bo_uni, 0) AS n_bo_uni,
        |       COALESCE(sc.n_oov, 0) AS n_oov,
        |       CASE WHEN COALESCE(sc.n_trigrams, 0) = 0 THEN 0
        |            ELSE CAST(sc.ppm_sum // sc.n_trigrams AS BIGINT)
        |       END AS fluency3_ppm
        |FROM d LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // contrastive importance selection: the DSIR / CCNet
    // data-selection loop — score every document against a TARGET-
    // domain LM (trained on the lang='en' slice) and a RAW-pool LM
    // (trained on the doc_id % 3 hash sample), keep the top 300‰ by
    // the integer contrast. One corpus explode scores both models
    // (scoreContrastPpm); the cut is exact top-m by (contrast DESC,
    // doc_id) via the bounded score-histogram (selectTopPermille) —
    // no global row sort at 100 TB.
    Entry("q189_docs_importance_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lmT = LanguageModel.train(
        docs.filter(col("lang") === "en"), "doc_id", "text")
      val lmR = LanguageModel.train(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      val scored = LanguageModel.scoreContrastPpm(
        docs, lmT, lmR, "doc_id", "text")
      Sampling.selectTopPermille(scored, "contrast_ppm", "doc_id", 300)
        .select(col("doc_id"), col("n_bigrams"), col("target_ppm"),
          col("raw_ppm"), col("contrast_ppm"))
        .orderBy(col("doc_id"))
    },
      // q189: the q184 integer-ppm scoring form against BOTH models
      // (target = lang='en' slice, raw = doc_id % 3 sample), contrast =
      // difference of the two floored means; the 300‰ cut is top-m by
      // (contrast DESC, doc_id) with m = count·300 // 1000 — the
      // engine's histogram selection computes exactly that set.
      """WITH d AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM d, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |), tb AS (
        |  SELECT b.* FROM b JOIN d USING (doc_id) WHERE d.lang = 'en'
        |), rb AS (
        |  SELECT * FROM b WHERE doc_id % 3 = 0
        |), cbt AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_bt FROM tb GROUP BY 1
        |), cpt AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_pt FROM tb GROUP BY 1
        |), cbr AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS c_br FROM rb GROUP BY 1
        |), cpr AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_pr FROM rb GROUP BY 1
        |), vt AS (
        |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vs
        |  FROM (SELECT unnest(ws) AS w FROM d WHERE lang = 'en')
        |), vr AS (
        |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vs
        |  FROM (SELECT unnest(ws) AS w FROM d WHERE doc_id % 3 = 0)
        |), sc AS (
        |  SELECT b.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_bigrams,
        |         SUM((COALESCE(cbt.c_bt, 0) + 1) * 1000000
        |             // (COALESCE(cpt.c_pt, 0) + vt.vs)) AS sum_t,
        |         SUM((COALESCE(cbr.c_br, 0) + 1) * 1000000
        |             // (COALESCE(cpr.c_pr, 0) + vr.vs)) AS sum_r
        |  FROM b LEFT JOIN cbt USING (bigram) LEFT JOIN cbr USING (bigram)
        |         LEFT JOIN cpt USING (w1) LEFT JOIN cpr USING (w1), vt, vr
        |  GROUP BY 1
        |), scored AS (
        |  SELECT d.doc_id,
        |         COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |         CASE WHEN COALESCE(sc.n_bigrams, 0) = 0 THEN 0
        |              ELSE CAST(sc.sum_t // sc.n_bigrams AS BIGINT) END AS target_ppm,
        |         CASE WHEN COALESCE(sc.n_bigrams, 0) = 0 THEN 0
        |              ELSE CAST(sc.sum_r // sc.n_bigrams AS BIGINT) END AS raw_ppm
        |  FROM d LEFT JOIN sc USING (doc_id)
        |), m AS (
        |  SELECT count(*) * 300 // 1000 AS m FROM scored
        |)
        |SELECT doc_id, n_bigrams, target_ppm, raw_ppm,
        |       target_ppm - raw_ppm AS contrast_ppm
        |FROM scored
        |QUALIFY row_number() OVER (
        |  ORDER BY target_ppm - raw_ppm DESC, doc_id) <= (SELECT m FROM m)
        |ORDER BY doc_id""".stripMargin),

    // trained quality classifier: the fastText-style "resembles
    // the reference corpus" screen as fixed-point logistic regression
    // — hard-sigmoid link, integer micro-unit weights, three batch-GD
    // passes over the doc_id % 2 labeled slice (label: lang = 'en'),
    // then EVERY document scored. All divisions floor on both engines
    // (Classifier.fdiv), gradients sum in DECIMAL(38,0)/HUGEINT, so
    // training and inference hash identically.
    Entry("q190_docs_quality_classifier", (s, dir) => {
      val docs = t(s, dir, "documents")
      val feat = Classifier.docFeatures(
        docs.withColumn("label", (col("lang") === "en").cast("long")),
        "doc_id", "text", keep = Seq("label"))
      val model = Classifier.trainLogistic(
        feat.filter(col("doc_id") % 2 === 0),
        Seq("x0", "x1", "x2", "x3"), "label", iters = 3)
      Classifier.scoreLogistic(feat, model, Seq("x0", "x1", "x2", "x3"))
        .select(col("doc_id"), col("label"), col("score_ppm"),
          col("predicted"))
        .orderBy(col("doc_id"))
    },
      // q190: the fixed-point logistic training loop unrolled — each
      // iteration is one CTE pair (gradient sums in HUGEINT, weight
      // update with DuckDB's `//`, which truncates toward zero exactly
      // like the engine's tdiv/BigInt convention on signed operands).
      // Iteration 1 is closed-form (zero weights ⇒ σ = 500000
      // everywhere).
      logisticOracleSql(iters = 3)),

    // distributed BPE merge training: tokenizer induction as a
    // data-parallel loop — the corpus touched ONCE (word-frequency
    // groupBy), then every merge iteration runs on the vocabulary-
    // sized word table; only the winning pair is collected per
    // iteration. The wrapped-symbol-string representation makes each
    // merge a single codegen'd literal replace with the same greedy
    // left-to-right semantics in both engines (see Bpe scaladoc), so
    // the six learned rules AND the post-merge symbol totals hash
    // bit-for-bit against the unrolled-CTE oracle.
    Entry("q191_docs_bpe_merges", (s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), "text")
      Bpe.trainDf(s, words, nMerges = 6).orderBy(col("merge_rank"))
    },
      // q191/q192: the BPE merge loop unrolled — merge application is
      // literal replace on the wrapped symbol string, identical greedy
      // semantics in both engines (see bpeOracleSql).
      bpeOracleSql(nMerges = 6, encode = false)),

    // BPE encoding under the learned rules: the replace chain
    // applied to the word TABLE (never re-scanning the corpus),
    // exploded symbols weighted by word count — the top of the learned
    // vocabulary with exact weighted frequencies.
    Entry("q192_docs_bpe_encode", (s, dir) => {
      // one corpus pass total: the vocab-sized word table feeds both
      // the merge loop and the final encode from local blocks
      val words = Bpe.wordCounts(t(s, dir, "documents"), "text")
        .localCheckpoint()
      val rules = Bpe.train(words, nMerges = 6)
      Bpe.encode(words, rules.map(r => (r.left_sym, r.right_sym)))
        .orderBy(col("tcount").desc, col("token")).limit(50)
    }, bpeOracleSql(nMerges = 6, encode = true)),

    // trained char-trigram language ID: the Cavnar-Trenkle rank
    // profile classifier — profiles induced from the doc_id % 2 = 0
    // labeled slice, every document scored by the integer out-of-place
    // distance, argmin with (dist, lang) tie-break. The TRAINED twin
    // of the heuristic lang-id (q22 family); profiles are bounded at
    // languages x k rows, the one legitimately-broadcast side.
    Entry("q196_docs_langid_trained", (s, dir) => {
      val d = t(s, dir, "documents")
      val profiles = LangId.trainProfiles(
        d.filter(col("doc_id") % 2 === 0), "lang", "doc_id", "text", k = 64)
      LangId.classify(d, profiles, "doc_id", "text", docTopN = 32, k = 64)
        .orderBy(col("doc_id"))
    },
      // q196: the rank-profile classifier end-to-end in SQL — same
      // trigram windows, same (count DESC, tri) rank ties, same
      // out-of-place sum and (dist, lang) argmin.
      """WITH t0 AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS t FROM documents
        |), tg AS (
        |  SELECT doc_id, lang, substr(t, i, 3) AS tri
        |  FROM t0, UNNEST(generate_series(1, length(t) - 2)) AS ti(i)
        |  WHERE length(t) >= 3
        |), dc AS (
        |  SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY 1, 2
        |), lc AS (
        |  SELECT lang, tri, CAST(count(*) AS BIGINT) AS c
        |  FROM tg WHERE doc_id % 2 = 0 GROUP BY 1, 2
        |), lp AS (
        |  SELECT lang, tri, rp FROM (
        |    SELECT lang, tri,
        |           row_number() OVER (PARTITION BY lang ORDER BY c DESC, tri) AS rp
        |    FROM lc)
        |  WHERE rp <= 64
        |), dn AS (
        |  SELECT doc_id, tri, rd FROM (
        |    SELECT doc_id, tri,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tri) AS rd
        |    FROM dc)
        |  WHERE rd <= 32
        |), langs AS (SELECT DISTINCT lang FROM lp
        |), d2 AS (
        |  SELECT dn.doc_id, langs.lang,
        |         CAST(SUM(CASE WHEN lp.rp IS NULL THEN 64
        |                       ELSE abs(dn.rd - lp.rp) END) AS BIGINT) AS dist
        |  FROM dn CROSS JOIN langs
        |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.tri = dn.tri
        |  GROUP BY 1, 2
        |), best AS (
        |  SELECT doc_id, lang AS pred_lang, dist
        |  FROM d2
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) = 1
        |)
        |SELECT d.doc_id, COALESCE(b.pred_lang, 'und') AS pred_lang,
        |       COALESCE(b.dist, CAST(-1 AS BIGINT)) AS dist
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN best b USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
  )
}
