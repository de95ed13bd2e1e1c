package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Ranking-quality audit at sweep scales (r11, VERDICT r10 #6): MRR of
  * the brute-force true NN inside each ANN family's top-10, on an
  * organic corpus, with the query sample hash-prioritized so runs are
  * deterministic. q185 pins sign-IVF at driver-gated scales; this
  * measures ALL serving families (sign-IVF, IVFADC, the joint-plan
  * LSH, and the annTopK dispatcher's chosen plan) where serving
  * decisions actually get made. Ground truth is the documented
  * quadratic baseline over the SAMPLE only (the q177 posture).
  *
  * Usage: runMain graft.tools.MrrAudit <sfDir> [nQueries]
  */
object MrrAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.defaultBuilder("local[24]", 24).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    val nq = args.lift(1).map(_.toInt).getOrElse(200)
    val e = Tables.load(spark, dir, "embeddings").localCheckpoint()
    val n = e.count()
    val qs = e.filter(col("vec_id") % 50 === 0)
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nq).localCheckpoint()
    val truth1 = Similarity.bruteForceTopK(qs, e, 1)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    def mrr(ann: DataFrame): Double =
      Similarity.retrievalMrr(ann, truth1)
        .agg(avg(col("rr_ppm"))).head.getDouble(0) / 1e6
    def timed(name: String)(f: => Double): Unit = {
      val t0 = System.nanoTime()
      val m = f
      println(f"MRR $name n=$n nq=$nq mrr=$m%.3f t=${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // the dispatcher's plans at this corpus size: full-precision
    // vectors, and a codes-only 8 B/vector budget (the 32× compressed
    // index at dim 64), whose IVFADC budgets the family rows reuse
    val fullPlan = Similarity.annPlan(n, 64)
    val adcPlan @ Similarity.IvfAdc(bits, nProbe, _, rerank) =
      Similarity.annPlan(n, 64, maxBytesPerVector = 8)
    val (planes, tables) = Similarity.autoLshPlan(n, 64)
    println(s"MRR plan full=$fullPlan budget_8B=$adcPlan lsh=($planes,$tables)")
    timed("sign_ivf")(mrr(Similarity.signIvfTopK(qs, e, k = 10, dim = 64,
      bits = bits, nProbe = nProbe)))
    timed("ivfadc")(mrr(Similarity.ivfAdcTopK(qs, e, k = 10, dim = 64,
      bits = bits, nProbe = Similarity.probeBudget(bits, 438), m = 8,
      rerank = rerank)))
    timed(s"sign_lsh_${planes}x$tables")(mrr(Similarity.signLshTopK(qs, e,
      k = 10, nTables = tables, planesPerTable = planes)))
    timed("ann_topk_dispatch")(mrr(Similarity.annTopK(qs, e, k = 10, dim = 64,
      corpusCount = n)))
    // the dispatcher under the 8 B/vector budget: IVFADC at adcPlan
    timed("ann_serve_8B_" + adcPlan.family)(
      mrr(Similarity.annTopK(qs, e, k = 10, dim = 64,
        maxBytesPerVector = 8, corpusCount = n)))
    // index-backed serving: build the budgeted index once, serve from
    // the artifact under the same plan — quality must match the
    // in-flight row above
    val idxDir = java.nio.file.Files.createTempDirectory("graft_mrr_serveidx").toString
    val t0 = System.nanoTime()
    val fam = Similarity.buildAnnServeIndex(e, idxDir, dim = 64,
      maxBytesPerVector = 8, corpusCount = n)
    println(f"MRR ann_serve_idx build family=${fam.family} " +
      f"t=${(System.nanoTime() - t0) / 1e9}%.1f s")
    timed(s"ann_serve_idx_8B_${fam.family}")(
      mrr(Similarity.annServeFromIndex(spark, idxDir, qs, e, k = 10,
        dim = 64, maxBytesPerVector = 8, corpusCount = n)))
    spark.stop()
  }
}
