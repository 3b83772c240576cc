package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans, null). Non-finite doubles render as null.
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x =>
        if (!first) sb += ','
        first = false
        write(sb, x)
      }
      sb += ']'
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans and listener events (epoch ms) share one time axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, op: Long, name: String,
                      start: Double, end: Double)

/** In-memory span recorder. A span names the engine module first
  * (`manifest.ResumableEncodeJob.run`, `engine.Zframe.frame`, ...); its
  * layer is that first component. Spans nest by call order on the calling
  * thread; Spark jobs submitted inside a span are linked to it through the
  * `perfbench.span` local property and become `spark.job` child spans.
  * When tracing is off every call runs its body and records nothing.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1L

  /** Start a new top-level operation id (one per timed op). */
  def newOp(): Unit = op += 1
  def currentOp: Long = op

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        spans += Span(id, parent, op, name, t0, Clock.nowMs)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** A span outside every timed op (trace-only probes and the kernel
    * replay): it gets an op id of its own, so its Spark jobs are never
    * attributed to the op that ran before it.
    */
  def probe[A](name: String)(body: => A): A = {
    if (stack.isEmpty) newOp()
    span(name)(body)
  }

  /** Record an already-measured span (kernel replay timings). */
  def record(name: String, startMs: Double, durMs: Double): Unit =
    if (on) {
      spans += Span(nextId, stack.headOption.getOrElse(-1), op, name,
        startMs, startMs + durMs)
      nextId += 1
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Listener for the traced run: per-stage task time, shuffle, spill, GC
  * and call site, plus job start/end tied to the harness span that was
  * active when the job was submitted. A stage's call site is that of the
  * SQL execution its job belongs to (adaptive execution submits shuffle
  * stages from a pool thread, whose own call site names no engine code),
  * else the stage's own. Aggregation is left to the analysis step
  * (perfbench/analysis.py) so the raw records stay complete.
  */
final class StageRecorder extends SparkListener {
  private val taskTimes = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Double]]
  private val stageJob = scala.collection.mutable.Map.empty[Int, (Int, Int)]
  private val executions = scala.collection.mutable.Map.empty[Long, (String, String)]
  private val jobExecution = scala.collection.mutable.Map.empty[Int, Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Int, Double, Seq[Int])]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = ArrayBuffer.empty[Map[String, Any]]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = (x.description, x.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => jobExecution(e.jobId) = x.toLong)
    jobStart(e.jobId) = (span, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = (e.jobId, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0, sids) =>
      jobs += Map("job" -> e.jobId, "span" -> span, "start" -> t0,
        "end" -> e.time.toDouble, "stages" -> sids, "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime / 1e3
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val times = taskTimes.remove((si.stageId, si.attemptNumber()))
      .map(_.sorted).getOrElse(ArrayBuffer.empty[Double])
    val (jobId, span) = stageJob.getOrElse(si.stageId, (-1, -1))
    val (name, details) = jobExecution.get(jobId).flatMap(executions.get)
      .getOrElse((si.name, si.details))
    def orZero(f: => Long): Long = if (tm == null) 0L else f
    stages += Map(
      "stage" -> si.stageId, "attempt" -> si.attemptNumber(), "job" -> jobId,
      "span" -> span, "name" -> name, "details" -> details, "tasks" -> si.numTasks,
      "task_s" -> times.sum,
      "max_task_s" -> (if (times.isEmpty) 0.0 else times.last),
      "median_task_s" -> (if (times.isEmpty) 0.0 else times(times.length / 2)),
      "shuffle_write_bytes" -> orZero(tm.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> orZero(tm.shuffleReadMetrics.totalBytesRead),
      "fetch_wait_ms" -> orZero(tm.shuffleReadMetrics.fetchWaitTime),
      "spill_bytes" -> orZero(tm.memoryBytesSpilled + tm.diskBytesSpilled),
      "gc_ms" -> orZero(tm.jvmGCTime),
      "input_bytes" -> orZero(tm.inputMetrics.bytesRead),
      "output_bytes" -> orZero(tm.outputMetrics.bytesWritten))
  }

  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.toSeq)
  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.toSeq)
}
