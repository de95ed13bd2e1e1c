package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload and prints one JSON line as the last line of
  * stdout: attempted/failed operation counts, the end-to-end metrics,
  * the per-layer metrics (traced runs only), and a description of the
  * run.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <expected dir>
  */
object Main {

  def bytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case o => json(o.toString)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, work, expectedDir) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = GraftSession.availableCores
    val master = s"local[$cores]"

    val (spark, sessionS) = timed {
      val s = GraftSession.defaultBuilder(master, cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      graft.expressions.GraftExtensions.register(s)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    var cachedPeak = 0L
    val ledger = new Ledger(() => {
      val held = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      cachedPeak = math.max(cachedPeak, held)
    })
    val ctx = Ctx(spark, seed, work, expectedDir, cores)
    val (w, genS) = timed(Workload(workload, ctx))
    val prepS = (1 to 3).map(_ => timed(w.prepare())._2)
    val (_, warmS) = timed(w.warm(ledger))
    val setupS = sessionS + genS + Stats.median(prepS) + warmS

    // The listener is registered only in traced runs, after set-up, so
    // a traced window sits at the same point of the run as an untraced
    // one and the two runs' operation latencies compare directly.
    val trace = if (traced) Some(new JobTrace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans
    val ops = w.measure(seconds, ledger, spans)
    val e2e: Map[String, Double] = Map("setup_s" -> setupS) ++ (
      if (ops.isEmpty) Nil
      else Seq("op_latency_ms.p50" -> Stats.median(ops) * 1e3, "ops_per_s" -> ops.size / ops.sum))

    val layers: Map[String, Double] = trace.fold(Map.empty[String, Double]) { t =>
      JobTrace.drain(spark.sparkContext)
      w.layers(spans, t) ++ e2e.get("op_latency_ms.p50").map("trace.op_latency_ms.p50" -> _) ++ Map(
        "setup.session_s" -> sessionS,
        "setup.prep_s" -> Stats.median(prepS),
        "setup.warm_s" -> warmS,
        "cached_mb" -> cachedPeak / 1048576.0,
        "failed_ratio" -> ledger.failed.toDouble / math.max(1, ledger.attempted))
    }

    val info = w.info ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "master" -> master, "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "op_seconds" -> ops,
      "failures" -> ledger.failures.toSeq)
    spark.stop()
    println(json(Map(
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "end_to_end" -> e2e, "per_layer" -> layers, "info" -> info)))
  }
}
