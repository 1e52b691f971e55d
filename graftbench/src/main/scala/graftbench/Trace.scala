package graftbench

import scala.collection.mutable

import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._

/** One timed region. Times are wall-clock epoch milliseconds (fractional),
  * the clock Spark's listener events use, so job spans and benchmark spans
  * share one axis. `parent` is the id of the enclosing span or -1.
  */
final case class Span(id: Int, name: String, kind: String, start: Double,
    end: Double, parent: Int, runId: String)

/** In-memory span log. Records nothing until enabled (the traced op). */
final class Spans(val runId: String) {
  @volatile var enabled = false
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def add(name: String, kind: String, start: Double, end: Double,
      parent: Int): Int = synchronized {
    if (!enabled) -1
    else {
      val id = buf.size
      buf += Span(id, name, kind, start, end, parent, runId)
      id
    }
  }

  /** Times `f` as a span; returns its result and the span id. */
  def timed[T](name: String, kind: String, parent: Int)(f: Int => T): (T, Int) = {
    val t0 = nowMs()
    val id = add(name, kind, t0, t0, parent)
    val r = f(id)
    if (id >= 0) synchronized { buf(id) = buf(id).copy(end = nowMs()) }
    (r, id)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.start,
    "end_ms" -> s.end, "parent" -> s.parent, "run_id" -> s.runId))
}

/** Per-job and per-task aggregates from Spark's listener bus. Nothing here
  * touches the engine: it only reads events the scheduler already posts.
  */
final class BenchListener extends SparkListener {
  case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  case class StageAgg(var tasks: Int = 0, var runMs: Long = 0L,
      var cpuNs: Long = 0L, var gcMs: Long = 0L, var shuffleWriteBytes: Long = 0L,
      var shuffleRecords: Long = 0L, var spillBytes: Long = 0L,
      var inputBytes: Long = 0L, var outputBytes: Long = 0L, var failures: Int = 0,
      taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long],
      var submitted: Double = 0.0, var completed: Double = 0.0)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, StageAgg())
    a.submitted = e.stageInfo.submissionTime.getOrElse(0L).toDouble
    a.completed = e.stageInfo.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, StageAgg())
    a.tasks += 1
    val reason: TaskEndReason = e.reason
    if (reason != Success) a.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.taskMs += m.executorRunTime
    }
  }

  /** Jobs that started inside [from, to]. */
  def jobsIn(from: Double, to: Double): Seq[Job] = synchronized(
    jobs.values.filter(j => j.start >= from - 1 && j.start <= to + 1).toList)

  /** The spark.* layer metrics over the jobs started inside [from, to]. */
  def layerMetrics(from: Double, to: Double, epochs: Int): Map[String, Double] =
    synchronized {
      val js = jobsIn(from, to)
      val stageIds = js.flatMap(_.stages).distinct
      val aggs = stageIds.flatMap(stages.get)
      def sum(f: StageAgg => Long): Double = aggs.map(f).sum.toDouble
      // the longest stage by wall time: its max/median task time
      val longest = aggs.filter(_.taskMs.nonEmpty)
        .maxByOption(a => a.completed - a.submitted)
      val skew = longest.map { a =>
        val s = a.taskMs.sorted
        val med = s(s.size / 2).toDouble
        if (med > 0) s.last / med else 1.0
      }.getOrElse(0.0)
      // wall time inside [from, to] during which no job was running
      val intervals = js.map(j => (math.max(j.start, from),
        math.min(if (j.end.isNaN) to else j.end, to))).filter(i => i._2 > i._1)
        .sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      intervals.foreach { case (s, e) =>
        if (curS.isNaN) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { covered += curE - curS; curS = s; curE = e }
      }
      if (!curS.isNaN) covered += curE - curS
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.jobs_per_epoch" -> (if (epochs > 0) js.size.toDouble / epochs else 0.0),
        "spark.stages" -> aggs.size.toDouble,
        "spark.tasks" -> aggs.map(_.tasks).sum.toDouble,
        "spark.task_run_ms" -> sum(_.runMs),
        "spark.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
        "spark.gc_ms" -> sum(_.gcMs),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
        "spark.shuffle_records" -> sum(_.shuffleRecords),
        "spark.spill_bytes" -> sum(_.spillBytes),
        "spark.input_bytes" -> sum(_.inputBytes),
        "spark.output_bytes" -> sum(_.outputBytes),
        "spark.task_skew" -> skew,
        "spark.driver_gap_ms" -> math.max(0.0, (to - from) - covered),
        "spark.task_failures" -> aggs.map(_.failures).sum.toDouble)
    }
}
