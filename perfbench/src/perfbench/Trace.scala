package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed region recorded by the benchmark around one call into a
  * layer. `startMs`/`endMs` are wall-clock milliseconds (the clock
  * Spark stamps listener events with) used to attribute jobs;
  * `seconds` is the monotonic duration.
  */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long, seconds: Double)

final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer[Span]()
  def all: Seq[Span] = buf.toSeq

  def time[A](name: String)(body: => A): A = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally buf += Span(buf.size, name, w0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
  }

  def named(name: String): Seq[Span] = buf.filter(_.name == name).toSeq
}

/** Work done by the jobs attributed to one span. */
final case class Work(
    jobs: Int, stages: Int, tasks: Long, cpuS: Double, runS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    inputMb: Double, outputMb: Double, jobIntervals: Seq[(Long, Long)]) {

  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuS + o.cpuS, runS + o.runS, gcS + o.gcS, shuffleWriteMb + o.shuffleWriteMb,
    shuffleReadMb + o.shuffleReadMb, spillMb + o.spillMb, inputMb + o.inputMb,
    outputMb + o.outputMb, jobIntervals ++ o.jobIntervals)
}

object Work {
  val zero: Work = Work(0, 0, 0L, 0, 0, 0, 0, 0, 0, 0, 0, Nil)
}

/** SparkListener that records each job's interval and its stages' task
  * metrics. Registered only in traced runs. Jobs are attributed to the
  * innermost benchmark span whose wall-clock window holds the job's
  * submission time: the client is a single closed loop, so every job
  * submitted inside a span was caused by that span's call.
  */
final class JobTrace extends SparkListener {

  private final class Job(val start: Long, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class StageAgg {
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shufW = 0L
    var shufR = 0L
    var spill = 0L
    var in = 0L
    var out = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.time, e.stageIds))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.in += m.inputMetrics.bytesRead
        a.out += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Work per span, each job counted once in its innermost span; jobs
    * outside every span are dropped. Call after [[PerfbenchBus.drain]].
    */
  def attribute(spans: Seq[Span]): Map[Span, Work] = {
    val mb = 1024.0 * 1024.0
    val perJob = jobs.asScala.toSeq.map { case (id, j) =>
      val own = j.stageIds.filter(s => stageOwner.get(s) == id).flatMap(s => Option(stages.get(s)))
      val end = if (j.end < 0) System.currentTimeMillis() else j.end
      j.start -> Work(1, own.count(_.tasks > 0), own.map(_.tasks).sum,
        own.map(_.cpuNs).sum / 1e9, own.map(_.runMs).sum / 1e3, own.map(_.gcMs).sum / 1e3,
        own.map(_.shufW).sum / mb, own.map(_.shufR).sum / mb, own.map(_.spill).sum / mb,
        own.map(_.in).sum / mb, own.map(_.out).sum / mb, Seq(j.start -> end))
    }
    val owned = perJob.flatMap { case (start, w) =>
      spans.filter(s => s.startMs <= start && start <= s.endMs)
        .sortBy(s => (s.endMs - s.startMs, -s.startMs)).headOption.map(_ -> w)
    }
    owned.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object JobTrace {
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
