package graft.core

import java.util.concurrent.atomic.LongAdder

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed attempt and its cause fields: process GC, task-billed GC,
  * shuffle spill, shuffle bytes written/read, task time and count, and
  * the [[Shared]] builds it paid. A slow attempt carries its own cause in
  * the artifact. `sec` is -1 exactly when the attempt threw; `error` then
  * holds the message.
  */
final case class Attempt(sec: Double, error: Option[String], gcMs: Long,
                         taskGcMs: Long, spillBytes: Long,
                         shufWriteBytes: Long, shufReadBytes: Long,
                         taskMs: Long, tasks: Long, builds: Seq[String]) {
  def ok: Boolean = error.isEmpty

  def json: String = Json.obj(Seq(
    "sec" -> f"$sec%.3f",
    "gc_ms" -> gcMs.toString,
    "gc_pct" -> f"${100.0 * gcMs / math.max(1.0, sec * 1000)}%.1f",
    "task_gc_ms" -> taskGcMs.toString,
    "spill_mb" -> (spillBytes >> 20).toString,
    "shuf_w_mb" -> (shufWriteBytes >> 20).toString,
    "shuf_r_mb" -> (shufReadBytes >> 20).toString,
    "task_ms" -> taskMs.toString,
    "tasks" -> tasks.toString,
    "builds" -> Json.strs(builds),
  ) ++ error.map("error" -> Json.str(_)))
}

/** A query's attempts under the one protocol: the first attempt is
  * `cold` (it pays classloading, codegen, JIT and the shared builds its
  * query is the first consumer of); `warm` is the min over the later
  * successful attempts. Either is -1 when no such attempt succeeded, and
  * a row without a warm success counts as failed.
  */
final case class Timing(name: String, attempts: Seq[Attempt]) {
  def cold: Double = attempts.head.sec
  def warm: Double =
    attempts.tail.filter(_.ok).map(_.sec).minOption.getOrElse(-1.0)
  def ok: Boolean = warm >= 0
  def error: Option[String] = attempts.flatMap(_.error).headOption
}

/** The measurement core every timed noop write of the mains goes through.
  * Registers itself as a listener summing the TaskMetrics of every
  * finished task; an [[attempt]] reports the delta over its own window.
  *
  * Materialization is a noop-format write, not count(): count() lets
  * Catalyst prune unreferenced expressions, so projection-shaped queries
  * would degrade to parquet count-stars. The noop sink consumes every row
  * and column while writing no bytes.
  */
final class Measure(spark: SparkSession) extends SparkListener {
  private val taskGcMs = new LongAdder
  private val spillBytes = new LongAdder
  private val shufWriteBytes = new LongAdder
  private val shufReadBytes = new LongAdder
  private val taskMs = new LongAdder
  private val tasks = new LongAdder
  private val counters =
    Seq(taskGcMs, spillBytes, shufWriteBytes, shufReadBytes, taskMs, tasks)

  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskGcMs.add(m.jvmGCTime)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      shufWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shufReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      taskMs.add(m.executorRunTime)
      tasks.add(1)
    }
  }

  private def snap(): Seq[Long] = {
    Measure.drain(spark.sparkContext)
    counters.map(_.sum())
  }

  /** One attempt of `fn(spark, dir)` through the noop sink:
    *   1. with `clearMemo`, drop the [[Shared]] memo so the attempt pays
    *      every shared build (untimed);
    *   2. `System.gc()`, so the previous work's garbage is collected
    *      outside the timed window: an allocation-heavy query otherwise
    *      bills its heap pressure to the queries that follow it;
    *   3. discard builds logged before the attempt, snapshot the counters;
    *   4. time construction plus the write (a throw becomes the record's
    *      error, never the caller's);
    *   5. drain the listener bus, so the delta has seen every task end.
    */
  def attempt(fn: (SparkSession, String) => DataFrame, dir: String,
              clearMemo: Boolean = false): Attempt = {
    if (clearMemo) Shared.clear()
    System.gc()
    Shared.drainBuilds()
    val s0 = snap()
    val g0 = Measure.jvmGcMs
    val t0 = System.nanoTime()
    val error =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case NonFatal(e) => Some(Measure.message(e)) }
    val sec = if (error.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0
    val gc = Measure.jvmGcMs - g0
    val d = snap().zip(s0).map { case (a, b) => a - b }
    Attempt(sec, error, gc, d(0), d(1), d(2), d(3), d(4), d(5),
      Shared.drainBuilds())
  }

  def row(name: String, fn: (SparkSession, String) => DataFrame, dir: String,
          attempts: Int = Measure.Attempts, clearMemo: Boolean = false): Timing =
    Timing(name, Seq.fill(attempts)(attempt(fn, dir, clearMemo)))

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Measure {

  /** Attempts per row: one cold, then two warm. */
  val Attempts = 3

  /** Process-wide JVM GC time (all collectors), the same gauge the
    * streaming probes report, so batch and streaming gc_ms compare.
    */
  def jvmGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** First line of the message (or the class name), bounded for artifacts. */
  def message(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.getClass.getName).take(300)

  /** Drain the async listener bus so a snapshot taken right after an
    * action has seen every task-end event. `LiveListenerBus.waitUntilEmpty`
    * is private[spark] (public in bytecode), so it is reached reflectively,
    * with a bounded sleep as the fallback: a missed drain skews one
    * attempt's cause fields, never a timing.
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .filter(_.getName == "waitUntilEmpty")
        .minBy(_.getParameterCount)
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(2000L))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[measure] listener bus drain failed: ${message(e)}")
        Thread.sleep(100)
    }
}
