package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. `ok` turns false when the call
  * throws or its output check fails. */
final class OpRecord(
    val id: String,
    val kind: String,
    val ms: Double,
    val cpuMs: Double,
    val traced: Boolean,
    val rows: Long,
    var ok: Boolean,
    var error: String
)

/** A span: op (root) → construct / action / release / program call →
  * Spark jobs (recorded by the listener, parented through the job
  * group). Times are epoch milliseconds, the clock Spark stamps on job
  * events. */
final case class Span(id: Int, parent: Int, op: String, name: String, startMs: Double, endMs: Double)

final class StageRec(val stageId: Int, val attempt: Int) {
  var jobId = -1
  var op: String = null
  var tasks = 0
  var submitMs = 0L
  var completeMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

final class JobRec(val jobId: Int, val op: String, val startMs: Long) {
  var endMs = 0L
}

/** Per traced op: query-planning and codegen counters, read from the
  * QueryExecutionListener and the codegen accumulators. */
final class OpCounters(val op: String) {
  var queries = 0
  var planMs = 0.0
  var compiles = 0L
  var compileMs = 0.0
}

/** Benchmark-registered SparkListener + QueryExecutionListener. Events
  * arrive on the listener-bus thread; the tracer drains the bus after
  * every traced op before reading them. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val jobOfStage = mutable.HashMap[Int, JobRec]()
  @volatile var current: OpCounters = null

  private def stage(id: Int, attempt: Int): StageRec = stages.getOrElseUpdate((id, attempt), {
    val s = new StageRec(id, attempt)
    jobOfStage.get(id).foreach { j => s.jobId = j.jobId; s.op = j.op }
    s
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val j = new JobRec(e.jobId, group, e.time)
    jobs += j
    e.stageIds.foreach(jobOfStage(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val c = current
    if (c != null) {
      c.queries += 1
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

/** Times every op; when tracing is on, also tags its jobs with the op
  * id as job group, records child spans, and collects listener and
  * codegen counters per op. Untraced ops register no listener at all,
  * so the traced run can measure its own overhead against them. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val recorder = new Recorder
  val ops = mutable.ArrayBuffer[OpRecord]()
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.ArrayBuffer[OpCounters]()
  private var tracing = false
  private var opId: String = null
  private var parent = -1

  def isTracing: Boolean = tracing

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) { sc.addSparkListener(recorder); spark.listenerManager.register(recorder) }
    else { BusDrain.drain(sc); sc.removeSparkListener(recorder); spark.listenerManager.unregister(recorder) }
    tracing = on
  }

  /** Time one op. Returns None when it throws (the op is then failed). */
  def op[T](kind: String)(body: => T)(rows: T => Long): Option[T] = {
    val id = s"op${ops.size}"
    var c: OpCounters = null
    var compiles0 = 0L
    var compileNs0 = 0L
    if (tracing) {
      c = new OpCounters(id)
      recorder.current = c
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      compileNs0 = CodeGenerator.compileTime
      sc.setJobGroup(id, kind)
      opId = id
    }
    val spanId = spans.size
    val cpu0 = Util.processCpuS()
    val t0 = nowMs()
    if (tracing) { spans += null; parent = spanId }
    val res =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val t1 = nowMs()
    val cpuMs = (Util.processCpuS() - cpu0) * 1000
    if (tracing) {
      spans(spanId) = Span(spanId, -1, id, kind, t0, t1)
      parent = -1
      sc.clearJobGroup()
      BusDrain.drain(sc)
      c.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      c.compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      recorder.current = null
      counters += c
      opId = null
    }
    res match {
      case Right(v) =>
        ops += new OpRecord(id, kind, t1 - t0, cpuMs, tracing, rows(v), true, null)
        Some(v)
      case Left(e) =>
        ops += new OpRecord(id, kind, t1 - t0, cpuMs, tracing, 0L, false, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** A child span of the running op (a no-op wrapper when untraced). */
  def span[T](name: String)(body: => T): T =
    if (!tracing || opId == null) body
    else {
      val id = spans.size
      val up = parent
      spans += null
      parent = id
      val t0 = nowMs()
      try body
      finally {
        spans(id) = Span(id, up, opId, name, t0, nowMs())
        parent = up
      }
    }

  /** Mark the last op failed (its output check did not match). */
  def fail(why: String): Unit = {
    val o = ops.last
    o.ok = false
    if (o.error == null) o.error = why
  }

  def json: String = {
    setTracing(false)
    def l(v: Long) = v.toString
    Json.obj(
      "ops" -> Json.arr(ops.map(o =>
        Json.obj(
          "id" -> Json.str(o.id), "kind" -> Json.str(o.kind), "ms" -> Json.num(o.ms), "cpu_ms" -> Json.num(o.cpuMs),
          "traced" -> o.traced.toString, "rows" -> l(o.rows), "ok" -> o.ok.toString,
          "error" -> (if (o.error == null) "null" else Json.str(o.error))
        ))),
      "spans" -> Json.arr(spans.map(s =>
        Json.obj(
          "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> Json.str(s.op),
          "name" -> Json.str(s.name), "start" -> Json.num(s.startMs), "end" -> Json.num(s.endMs)
        ))),
      "jobs" -> Json.arr(recorder.jobs.map(j =>
        Json.obj(
          "id" -> j.jobId.toString, "op" -> (if (j.op == null) "null" else Json.str(j.op)),
          "start" -> l(j.startMs), "end" -> l(j.endMs)
        ))),
      "stages" -> Json.arr(recorder.stages.values.map(s =>
        Json.obj(
          "id" -> s.stageId.toString, "job" -> s.jobId.toString,
          "op" -> (if (s.op == null) "null" else Json.str(s.op)),
          "tasks" -> s.tasks.toString, "submit" -> l(s.submitMs), "complete" -> l(s.completeMs),
          "run_ms" -> l(s.runMs), "cpu_ns" -> l(s.cpuNs), "gc_ms" -> l(s.gcMs),
          "shuffle_write" -> l(s.shuffleWriteBytes),
          "spill" -> l(s.spillBytes), "result" -> l(s.resultBytes),
          "input_bytes" -> l(s.inputBytes), "input_records" -> l(s.inputRecords)
        ))),
      "counters" -> Json.arr(counters.map(c =>
        Json.obj(
          "op" -> Json.str(c.op), "queries" -> c.queries.toString, "plan_ms" -> Json.num(c.planMs),
          "compiles" -> l(c.compiles), "compile_ms" -> Json.num(c.compileMs)
        )))
    )
  }
}
