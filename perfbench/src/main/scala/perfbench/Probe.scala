package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed call into a graft module. Wall-clock milliseconds are the
  * clock Spark stamps job events with; nanoTime gives the duration. */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    startMs: Long,
    endMs: Long,
    nanos: Long,
    compiles: Long,
    compileNanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Counters of one Spark job, filled from listener events. */
final class JobRecord(val submitMs: Long) {
  var endMs: Long = Long.MaxValue
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMemBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** What a span (with everything nested in it) cost. */
final case class SpanStats(
    seconds: Double,
    selfSeconds: Double,
    driverSeconds: Double,
    jobs: Int,
    stages: Int,
    tasks: Int,
    taskSeconds: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    peakTaskMemBytes: Long,
    inputBytes: Long,
    inputRecords: Long,
    outputBytes: Long,
    compiles: Long,
    compileSeconds: Double)

/** Outside-in probe: a SparkListener for job/stage/task counters plus
  * Spark's Janino counters, and spans the benchmark opens around its own
  * calls into graft. Nothing inside graft is instrumented. A job belongs to
  * every span whose interval contains the job's submission time, so jobs
  * that graft submits from its own worker threads are attributed too.
  * Spans stay in memory until `spansJson` is written at the end of a run. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var attached = false

  /** Trace only while `on`: untraced passes pay no listener or span cost.
    * Turning tracing off first waits for the events already posted. */
  def tracing(on: Boolean): Unit =
    if (on != attached) {
      if (on) sc.addSparkListener(this)
      else {
        drain()
        sc.removeSparkListener(this)
      }
      attached = on
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- jobOf(e.stageId) if m != null) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakTaskMemBytes = math.max(j.peakTaskMemBytes, m.peakExecutionMemory)
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def jobOf(stageId: Int): Option[JobRecord] = stageJob.get(stageId).flatMap(jobs.get)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time `body` as a span named `name`, nested in the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (ms0, ns0, c0, cn0) = (System.currentTimeMillis(), System.nanoTime(), compiles, CodeGenerator.compileTime)
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, parent, ms0, System.currentTimeMillis(), System.nanoTime() - ns0,
          compiles - c0, CodeGenerator.compileTime - cn0)
      }
    }

  /** Wait until every listener event posted so far has been delivered. */
  def drain(): Unit = if (attached) org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def spans: Seq[Span] = done.toSeq

  def stats(s: Span): SpanStats = synchronized {
    val js = jobs.values.filter(j => j.submitMs >= s.startMs && j.submitMs <= s.endMs).toSeq
    val children = done.filter(_.parent == s.id).map(_.nanos).sum
    // pass time with no job running: the span minus the union of its jobs'
    // [submit, end] intervals, clipped to the span
    val intervals = js.map(j => (j.submitMs, math.min(j.endMs, s.endMs))).sortBy(_._1)
    val (busyMs, _) = intervals.foldLeft((0L, s.startMs)) { case ((busy, covered), (a, b)) =>
      val from = math.max(a, covered)
      if (b > from) (busy + b - from, b) else (busy, covered)
    }
    SpanStats(
      seconds = s.seconds,
      selfSeconds = (s.nanos - children) / 1e9,
      driverSeconds = math.max(0.0, s.seconds - busyMs / 1e3),
      jobs = js.size,
      stages = js.map(_.stages).sum,
      tasks = js.map(_.tasks).sum,
      taskSeconds = js.map(_.taskMs).sum / 1e3,
      shuffleWriteBytes = js.map(_.shuffleWriteBytes).sum,
      spillBytes = js.map(_.spillBytes).sum,
      peakTaskMemBytes = if (js.isEmpty) 0L else js.map(_.peakTaskMemBytes).max,
      inputBytes = js.map(_.inputBytes).sum,
      inputRecords = js.map(_.inputRecords).sum,
      outputBytes = js.map(_.outputBytes).sum,
      compiles = s.compiles,
      compileSeconds = s.compileNanos / 1e9)
  }

  /** Every span with its counters, as a JSON array. */
  def spansJson: String =
    done.sortBy(_.id).map { s =>
      val st = stats(s)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> st.seconds, "self_s" -> st.selfSeconds, "driver_s" -> st.driverSeconds,
        "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks, "task_s" -> st.taskSeconds,
        "shuffle_write_bytes" -> st.shuffleWriteBytes, "spill_bytes" -> st.spillBytes,
        "input_bytes" -> st.inputBytes, "output_bytes" -> st.outputBytes,
        "compiles" -> st.compiles, "compile_s" -> st.compileSeconds)
    }.mkString("[\n", ",\n", "\n]\n")
}
