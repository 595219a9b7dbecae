package erbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Per-job Spark counters, keyed by the job group the harness sets before
  * every call it measures. A job keeps its group and start time, so the
  * jobs of one call can also be split by time (see `jobs`). Call
  * [[Recorder.drain]] before reading so late events are in.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  final class Job(val group: String, val startMs: Long) {
    var cpuNs = 0L; var runMs = 0L; var shuffleWriteBytes = 0L
  }
  private val jobsById = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobsById(j.jobId) = new Job(g, j.time)
    j.stageIds.foreach(stageJob(_) = j.jobId)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    for (id <- stageJob.get(t.stageId); job <- jobsById.get(id) if m != null)
      job.synchronized {
        job.cpuNs += m.executorCpuTime
        job.runMs += m.executorRunTime
        job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
  }

  def drain(): Unit = org.apache.spark.ErbenchBus.drain(sc)

  private def totals(js: Iterable[Job]): Map[String, Any] = {
    val cpuNs = js.map(_.cpuNs).sum
    Map("jobs" -> js.size.toLong, "task_cpu_s" -> cpuNs / 1e9,
      "task_wait_s" -> math.max(0.0, js.map(_.runMs).sum / 1e3 - cpuNs / 1e9),
      "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum)
  }

  /** Jobs, task CPU, off-CPU task time and shuffle bytes of one group. */
  def group(g: String): Map[String, Any] = totals(jobsById.values.filter(_.group == g))

  /** Each job of one group: its start (epoch ms) and its counters. */
  def jobs(g: String): Seq[Map[String, Any]] =
    jobsById.toSeq.filter(_._2.group == g).sortBy(_._1).map { case (_, j) =>
      totals(Seq(j)) + ("start_ms" -> j.startMs)
    }
}

/** In-memory span log: name, start, end, parent and run id, written out
  * when the run ends. Times are seconds since the tracer was created. */
final class Tracer(runId: String) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  def now: Double = (System.nanoTime() - t0) / 1e9

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T = {
    val id = spans.size
    val parent: Any = stack.headOption.getOrElse(null)
    spans += Map("id" -> id, "name" -> name, "parent" -> parent, "run_id" -> runId,
      "start" -> now)
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans(id) = spans(id) ++ attrs ++ Map("end" -> now)
    }
  }

  /** Attach measured values to a span after it closed. */
  def annotate(id: Int, attrs: Map[String, Any]): Unit = spans(id) = spans(id) ++ attrs
  def all: Seq[Map[String, Any]] = spans.toSeq
}
