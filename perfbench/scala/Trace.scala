package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by spans and listener events: epoch milliseconds with
  * sub-millisecond resolution, so spans line up with Spark's own
  * (millisecond) job and planning timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, op: Int,
    startMs: Double, endMs: Double, storageStartMb: Double, storageEndMb: Double)

/** Records spans around the benchmark's calls into the engine. While a
  * span is open its id is the `perfbench.span` local property, so every
  * Spark job the call submits carries it. A disabled tracer only runs
  * the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  private def storageMb(): Double =
    sc.getExecutorMemoryStatus.values
      .map { case (max, remaining) => (max - remaining).toDouble }.sum / (1 << 20)

  /** `withStorage` samples block-manager storage at both ends; the
    * benchmark asks for it on pass- and request-level spans only.
    */
  def span[T](name: String, op: Int, withStorage: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = sc.getLocalProperty(Tracer.Prop)
    val s0 = if (withStorage) storageMb() else Double.NaN
    sc.setLocalProperty(Tracer.Prop, id.toString)
    stack = id :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, outer)
      val s1 = if (withStorage) storageMb() else Double.NaN
      spans += Span(id, parent, name, op, t0, t1, s0, s1)
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Per-span Spark runtime counts, attributed through the job's
  * `perfbench.span` property: jobs, stages, tasks, task time, GC,
  * shuffle, spill, scan input and write output, plus each job's
  * interval (for the driver gap).
  */
final class SpanListener extends SparkListener {
  final class Agg {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskMs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var peakExecMemBytes = 0L
    var inputBytes = 0L; var inputRecords = 0L
    var outputBytes = 0L; var outputRecords = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  val bySpan = mutable.Map[Int, Agg]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, (Int, Long)]()
  private val seenStages = mutable.Set[Int]()

  private def agg(span: Int) = bySpan.getOrElseUpdate(span, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    agg(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    jobStart(e.jobId) = (span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      agg(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (seenStages.add(id)) agg(stageSpan.getOrElse(id, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan.getOrElse(e.stageId, -1))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMemBytes = math.max(a.peakExecMemBytes, m.peakExecutionMemory)
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  def toJson: Map[String, Any] = synchronized {
    bySpan.map { case (span, a) =>
      span.toString -> Map(
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_ms" -> a.taskMs, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "spill_bytes" -> a.spillBytes,
        "peak_exec_mem_bytes" -> a.peakExecMemBytes,
        "input_bytes" -> a.inputBytes, "input_records" -> a.inputRecords,
        "output_bytes" -> a.outputBytes, "output_records" -> a.outputRecords,
        "job_intervals" -> a.jobIntervals.map { case (s, e) => Seq(s, e) }.toSeq)
    }.toMap
  }
}

/** Catalyst planning time of every executed Dataset, from
  * `QueryExecution.tracker`. Attributed to spans by time afterwards:
  * the callback runs on the listener thread, where the span property is
  * not visible.
  */
final class PlanListener extends QueryExecutionListener {
  val records = mutable.ArrayBuffer[Map[String, Double]]()

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def dur(name: String): Double = ph.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.get("analysis").orElse(ph.values.headOption)
      .map(_.startTimeMs.toDouble).getOrElse(0.0)
    records += Map("start_ms" -> start, "analysis_ms" -> dur("analysis"),
      "optimizer_ms" -> dur("optimization"), "physical_ms" -> dur("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
