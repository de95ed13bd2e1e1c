package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Full-catalog sweep recording, per query, its catalog family, cold +
  * warm wall time, the warm run's job/stage/task counts and the
  * generated classes it compiled (0 once the codegen cache holds the
  * query's plans; a recompile costs planning time on every run) — the
  * attribution data for the ~0.3 s/query fixed-overhead floor across
  * the bench tail (VERDICT r16 "next round" #1). `failed` is 1 when either run threw: its times are
  * then the time to the failure, not a query time.
  * Usage: runMain graft.tools.QSweep [sfDir] [outFile]
  */
object QSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/qsweep.tsv"
    val spark = graft.GraftSession.default()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(sc.stageInfo.numTasks)
      }
    })
    try graft.catalog.CatalogSupport.warmDashboard(spark, dir) catch { case _: Throwable => () }
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val sb = new StringBuilder
    sb.append("query\tfamily\tcold_s\twarm_s\tjobs\tstages\ttasks\tgc_ms\tcompiles\tfailed\n")
    def sweepOne(q: String): Unit = {
      var failed = 0
      def run(): Double = {
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(q)(spark, dir).count()
        catch { case _: Throwable => failed = 1 }
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run()
      Thread.sleep(150) // drain listener
      val j0 = jobs.get(); val s0 = stages.get(); val t0 = tasks.get(); val g0 = gcMs
      val c0 = graft.GraftSession.codegenCompiles
      val warm = run()
      Thread.sleep(150)
      val line = f"$q\t${graft.QueryCatalog.familyOf(q)}\t$cold%.3f\t$warm%.3f\t${jobs.get - j0}%d\t${stages.get - s0}%d\t${tasks.get - t0}%d\t${gcMs - g0}%d\t${graft.GraftSession.codegenCompiles - c0}%d\t$failed%d"
      println("QSWEEP " + line)
      sb.append(line).append('\n')
    }
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(sweepOne)
    // end-of-run re-times: BENCH_r16 saw q181/q68 warm re-times 5× their
    // cold times when re-run AFTER the full catalog — reproduce with
    // job/GC attribution (VERDICT r16 "what's wrong" #2).
    Seq("q181_ann_ivfadc_compacted", "q68_docs_incremental_dedup",
      "q179_emb_ann_ivfadc_append").foreach { q =>
      sb.append("END ")
      sweepOne(q)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
