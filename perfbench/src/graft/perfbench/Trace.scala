package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** In-memory span recorder. Times are epoch milliseconds derived from
  * `System.nanoTime`, so they line up with the listener's job and stage
  * timestamps. With `on = false` nothing is recorded and `span` only runs
  * its body. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      t0: Double, var t1: Double = Double.NaN, var ruleMs: Double = 0.0)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, layer, nowMs)
      spans += s
      stack.push(s.id)
      try body
      finally { s.t1 = nowMs; stack.pop() }
    }

  /** `span` that also records, as the span's `ruleMs`, the time Catalyst
    * rules (every rule executor, this JVM) ran inside its body. */
  def ruleSpan[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val r0 = RuleExecutor.getCurrentMetrics().time
      val id = spans.size
      try span(name, layer)(body)
      finally spans(id).ruleMs = (RuleExecutor.getCurrentMetrics().time - r0) / 1e6
    }
}

/** Per-job totals gathered from the listener bus. */
final case class JobRec(id: Int, t0: Long, var t1: Long = -1L,
    stageIds: Seq[Int] = Nil, var stages: Int = 0, var tasks: Int = 0,
    var runMs: Long = 0L, var cpuNs: Long = 0L, var inB: Long = 0L,
    var srB: Long = 0L, var swB: Long = 0L, var spillB: Long = 0L,
    var outB: Long = 0L)

/** Counts the Spark work of the run: jobs, stages, tasks and their byte
  * and time metrics, keyed by job. Registered only on traced runs. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, stageIds = e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inB += m.inputMetrics.bytesRead
        j.srB += m.shuffleReadMetrics.totalBytesRead
        j.swB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outB += m.outputMetrics.bytesWritten
      }
    }
  }
  def snapshot: Seq[JobRec] = synchronized(jobs.values.map(_.copy()).toSeq)
}

/** Minimal JSON writer for the raw record the harness hands to run.py. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
