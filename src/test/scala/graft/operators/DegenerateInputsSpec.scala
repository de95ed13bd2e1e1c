package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degenerate-input hardening for the r11 additions: empty corpora,
  * over-asked budgets, and absent strata must fail LOUDLY or return
  * the documented empty/identity result — never a wrong answer or an
  * unbounded job chain.
  */
class DegenerateInputsSpec extends SparkSpec {

  import spark.implicits._

  // ---- BPE ----------------------------------------------------------

  test("Bpe.train: empty corpus → zero rules, no failure") {
    val words = Bpe.wordCounts(Seq.empty[String].toDF("text"), "text")
    assert(Bpe.train(words, nMerges = 8) === Seq.empty)
  }

  test("Bpe.train: single-character corpus has no pairs → zero rules") {
    val words = Bpe.wordCounts(Seq("a", "a", "a").toDF("text"), "text")
    assert(Bpe.train(words, nMerges = 8) === Seq.empty)
  }

  test("Bpe.train: minCount above every word count → zero rules") {
    val words = Bpe.wordCounts(Seq("hello world", "hello").toDF("text"), "text")
    assert(Bpe.train(words, nMerges = 8, minCount = 100L) === Seq.empty)
  }

  test("Bpe.encode under zero rules → plain character tokens") {
    val words = Bpe.wordCounts(Seq("ab ab").toDF("text"), "text")
    val toks = Bpe.encode(words, Seq.empty).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toks === Map("a" -> 2L, "b" -> 2L))
  }

  // ---- LangId -------------------------------------------------------

  test("LangId.trainProfiles: k larger than the distinct-trigram count " +
    "→ profile is the full (smaller) ranking, ranks contiguous") {
    val labeled = Seq(("en", 1L, "aaab")).toDF("lang", "id", "text")
    // trigrams of "aaab": aaa, aab — 2 distinct < k=64
    val prof = LangId.trainProfiles(labeled, "lang", "id", "text", k = 64)
      .orderBy(col("rank")).collect()
    assert(prof.map(_.getString(1)).toSeq === Seq("aaa", "aab"))
    assert(prof.map(_.getLong(2)).toSeq === Seq(1L, 2L))
  }

  test("LangId.classify: language unseen at train time still classifies " +
    "to the nearest TRAINED profile; too-short docs predict 'und'") {
    val labeled = Seq(
      ("en", 1L, "the cat and the dog and the bird"),
      ("de", 2L, "der hund und die katze und der vogel")).toDF("lang", "id", "text")
    val prof = LangId.trainProfiles(labeled, "lang", "id", "text", k = 16)
    val docs = Seq(
      (10L, "le chat et le chien"), // French — unseen language
      (11L, "ab")                   // too short for any trigram
    ).toDF("doc_id", "text")
    val out = LangId.classify(docs, prof, "doc_id", "text", docTopN = 8, k = 16)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(Set("en", "de").contains(out(10L)._1),
      "unseen language must map to a trained profile, deterministically")
    assert(out(10L)._2 >= 0L)
    assert(out(11L) === ("und", -1L))
  }

  // ---- Sharding -----------------------------------------------------

  test("Sharding.shuffleShards: nShards > nDocs → dense ids, ≤1 doc per shard") {
    val docs = Seq((1L, "a b"), (2L, "c"), (3L, "d e f")).toDF("doc_id", "text")
    val out = Sharding.shuffleShards(docs, "doc_id", "text", nShards = 10)
      .collect()
    assert(out.map(_.getAs[Long]("global_idx")).sorted.toSeq === Seq(0L, 1L, 2L))
    val perShard = out.groupBy(_.getAs[Long]("shard_id")).view.mapValues(_.length)
    assert(perShard.values.forall(_ == 1), s"shard skew: ${perShard.toMap}")
  }

  // ---- mixture ------------------------------------------------------

  test("Sampling.mixToTarget: target stratum absent from the data fails " +
    "fast, naming the stratum (the q198 mixture stage contract)") {
    val df = Seq((1L, "web"), (2L, "web"), (3L, "books")).toDF("id", "source")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixToTarget(df, "source", "id",
        Map("web" -> 500000L, "code" -> 500000L))
    }
    assert(e.getMessage.contains("code"),
      s"error must name the absent stratum: ${e.getMessage}")
  }

  // ---- ANN dispatcher -----------------------------------------------

  private def vecDf(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("annTopK: empty corpus → empty result, no failure") {
    val q = vecDf(Seq((1L, Seq.fill(64)(1.0f))))
    val empty = vecDf(Seq.empty)
    assert(Similarity.annTopK(q, empty, k = 3).count() === 0L)
  }

  test("annTopK: single-vector corpus → that vector is the one neighbor") {
    val q = vecDf(Seq((100L, Seq.fill(64)(1.0f))))
    val c = vecDf(Seq((1L, Seq.fill(64)(0.5f))))
    val out = Similarity.annTopK(q, c, k = 3).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("query_id") === 100L)
    assert(out.head.getAs[Long]("neighbor_id") === 1L)
  }

  // ---- IVFADC -------------------------------------------------------

  test("ivfAdcTopK: empty and one-vector corpus at the auto budgets") {
    import Similarity.{autoAdcRerank, autoQuantBits, ivfAdcTopK, probeBudget}
    def adc(q: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) = {
      val n = c.count()
      val bits = autoQuantBits(n, 64)
      ivfAdcTopK(q, c, k = 3, dim = 64, bits = bits, nProbe = probeBudget(bits),
        m = 8, rerank = autoAdcRerank(n))
    }
    val q = vecDf(Seq((100L, Seq.fill(64)(1.0f))))
    assert(adc(q, vecDf(Seq.empty)).count() === 0L)
    val out = adc(q, vecDf(Seq((1L, Seq.fill(64)(0.5f))))).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("query_id") === 100L)
    assert(out.head.getAs[Long]("neighbor_id") === 1L)
  }
}
