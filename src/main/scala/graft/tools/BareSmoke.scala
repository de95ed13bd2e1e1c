package graft.tools
/** Driver-contract smoke: entry() and an events-table query must work
  * on a BARE session (none of GraftSession's configs). */
object BareSmoke {
  /** The catalog queries smoked after entry(), by output label. */
  val queries: Seq[(String, String)] = Seq(
    "events" -> "q39_events_sliding",
    "dash" -> "q55_pipeline_dash_q2",
    // r10 families: batch-keyed index chain + decontamination screens
    "index" -> "q181_ann_ivfadc_compacted",
    "decon" -> "q183_emb_decontaminate_blocked",
    // late-r10 families: documents-table LM scoring + the eval combinator
    "lm" -> "q184_docs_lm_fluency",
    "mrr" -> "q185_ann_retrieval_mrr")

  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    val counts = queries.map { case (label, q) =>
      s"$label=" + graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
    }
    println(s"SMOKE entry=$n ${counts.mkString(" ")}")
    spark.stop()
  }
}
