package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is 0 for a root span.
  * Times are epoch milliseconds, the clock Spark stamps its events with.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Counters of the traced run's recorder. */
object Counter extends Enumeration {
  val Jobs, Stages, Tasks, TaskWaitMs, RunMs, CpuNs, GcMs, ShufWriteB,
      ShufReadB, ShufRecords, FetchWaitMs, SpillB, InputB, OutputB = Value
}

/** Counts input rows on every run (the throughput metric's numerator). */
final class RowCounter extends SparkListener {
  val rows = new LongAdder
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) rows.add(e.taskMetrics.inputMetrics.recordsRead)
}

/** The traced run's recorder: job, stage and task counters plus spans for
  * Spark jobs and stages, parented to the benchmark span that was current
  * (the `perfbench.span` local property) when the job was submitted, and
  * the planning phases of every SQL execution.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val counters = Array.fill(Counter.maxId)(new LongAdder)
  private def add(c: Counter.Value, v: Long): Unit = counters(c.id).add(v)
  def snap(): Array[Long] = counters.map(_.sum())

  private val ids = new AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Double, String)]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  /** Start and end of the planning phases of each finished SQL execution. */
  val planned = new ConcurrentLinkedQueue[(Double, Double)]()

  /** Counts every job; keeps spans only for jobs a benchmark span caused. */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add(Counter.Jobs, 1)
    Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .foreach { parent =>
        val id = newId()
        jobSpan.put(e.jobId, id)
        jobStart.put(e.jobId, (parent.toLong, e.time.toDouble, s"job ${e.jobId}"))
        e.stageIds.foreach(s => stageJob.put(s, id))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStart.remove(e.jobId)
    val id = jobSpan.remove(e.jobId)
    if (st != null && id != null)
      spans.add(Span(id, st._1, "job", st._3, st._2, e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    add(Counter.Stages, 1)
    val submitted: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit.put(e.stageInfo.stageId, submitted)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageSubmit.remove(i.stageId)
    for (parent <- Option(stageJob.remove(i.stageId)); s <- i.submissionTime;
         c <- i.completionTime)
      spans.add(Span(newId(), parent, "stage", s"stage ${i.stageId}", s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Counter.Tasks, 1)
    val submit = stageSubmit.get(e.stageId)
    if (submit != null && e.taskInfo != null)
      add(Counter.TaskWaitMs, math.max(0L, e.taskInfo.launchTime - submit))
    val m = e.taskMetrics
    if (m != null) {
      add(Counter.RunMs, m.executorRunTime)
      add(Counter.CpuNs, m.executorCpuTime)
      add(Counter.GcMs, m.jvmGCTime)
      add(Counter.ShufWriteB, m.shuffleWriteMetrics.bytesWritten)
      add(Counter.ShufReadB, m.shuffleReadMetrics.totalBytesRead)
      add(Counter.ShufRecords, m.shuffleWriteMetrics.recordsWritten)
      add(Counter.FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
      add(Counter.SpillB, m.diskBytesSpilled)
      add(Counter.InputB, m.inputMetrics.bytesRead)
      add(Counter.OutputB, m.outputMetrics.bytesWritten)
    }
  }

  private def notePlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      planned.add((ph.map(_.startTimeMs).min.toDouble, ph.map(_.endTimeMs).max.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    notePlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    notePlan(qe)
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** Block until the listener bus has delivered every posted event, so a
    * counter read right after an action has seen its tasks.
    * `LiveListenerBus.waitUntilEmpty` is private[spark] in Scala and public
    * in bytecode, hence the reflective call.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
      .minBy(_.getParameterCount)
    if (m.getParameterCount == 0) m.invoke(bus)
    else m.invoke(bus, java.lang.Long.valueOf(10000L))
  }

  /** Sum of the lengths of `iv` clipped to [lo, hi], overlaps counted once. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Per-layer table of the traced spans: count, total and self time (a
    * span's duration minus the part its children cover). The last column
    * checks that each query's construct, plan and execute spans cover it.
    */
  def layerTable(all: Seq[Span]): Seq[String] = {
    val kids = all.groupBy(_.parent)
    val self = all.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s -> (s.ms - covered(ch, s.start, s.end))
    }
    val queries = all.filter(_.layer == "query")
    val queryMs = math.max(1e-9, queries.map(_.ms).sum)
    val cover = queries.map { q =>
      covered(kids.getOrElse(q.id, Nil).map(c => (c.start, c.end)), q.start, q.end)
    }.sum / queryMs
    val order = Seq("query", "construct", "plan", "execute", "job", "stage")
    val rows = order.flatMap { layer =>
      val ss = self.filter(_._1.layer == layer)
      if (ss.isEmpty) None
      else Some(f"$layer%-10s ${ss.size}%7d ${ss.map(_._1.ms).sum}%12.1f " +
        f"${ss.map(_._2).sum}%12.1f ${100 * ss.map(_._2).sum / queryMs}%7.1f%%")
    }
    val buf = ArrayBuffer(f"${"layer"}%-10s ${"spans"}%7s ${"total_ms"}%12s ${"self_ms"}%12s ${"self%"}%8s")
    buf ++= rows
    buf += f"query spans covered by construct+plan+execute: ${100 * cover}%.2f%%"
    buf.toSeq
  }
}
