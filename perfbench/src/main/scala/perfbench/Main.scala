package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.catalog.SchemaGuard
import graft.core.{GraftSession, Shared, Tables}

/** One benchmark run in one fresh JVM, driven by run.py with `key=value`
  * arguments (workload, seed, seconds, trace, cpus, out, corpus). It writes
  * `<out>/result.json`: metrics, attempts, failures, the checked queries
  * and their oracle SQL; a traced run also writes `spans.jsonl` and the
  * per-layer table `layers.txt`.
  *
  * Protocol, one client and one query at a time:
  *   1. set up once per corpus alias: a fresh session, then the first open
  *      and a reopen of every corpus table (relayout and store builds land
  *      here, in a scratch directory no earlier run has seen);
  *   2. warm up: each query once in catalog order, untimed, its output
  *      written for the oracle check;
  *   3. time whole rounds, each query once per round in a seed-dependent
  *      order, until `seconds` have passed and at least three (traced:
  *      four) rounds ran.
  * A traced run interleaves untraced and traced rounds, so the tracing
  * overhead is measured inside one JVM.
  */
object Main {
  val CorpusTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val args = argv.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    new Run(args, jvmStartS).execute()
  }

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One set-up: seconds in all, and its session and table-open parts. */
final case class Setup(seconds: Double, sessionMs: Double, firstOpenMs: Double,
                       reopenMs: Double, reopenJobs: Long)

/** One timed round: its wall time, each execution's latency, the input
  * rows it read and the per-layer sums of a traced round.
  */
final case class Round(wall: Double, latencies: Seq[Double], rows: Long,
                       traced: Boolean, layer: Map[String, Double])

final class Run(args: Map[String, String], jvmStartS: Double) {
  import Main._

  /** Samples the tail latency must have beyond it. A run times 15 to 30
    * executions, so three keeps the tail at p80 or higher.
    */
  private val TailBeyond = 3

  private def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))

  private val defs = graft.SparkEntry.modules.flatMap(_.defs)
  private val fns = defs.map(d => d.name -> d.fn).toMap
  val workload: Workload = Workloads.byName(arg("workload"))
  workload.queries.foreach(q => require(fns.contains(q), s"query '$q' is not in the catalog"))
  val seed: Long = arg("seed").toLong
  val seconds: Double = arg("seconds").toDouble
  val traced: Boolean = arg("trace") == "1"
  val cpus: Int = arg("cpus").toInt
  val out: Path = Paths.get(arg("out"))
  /** Aliases of one corpus, one per set-up; the last one is timed. */
  val corpora: Seq[String] = arg("corpus").split(',').toSeq
  private def dir = corpora.last

  private val rec = new Recorder
  private val rows = new RowCounter
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var spark: SparkSession = _
  private var attachedRecorder = false

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    val first = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
    val msg = s"$what: ${e.getClass.getName}: $first"
    errors += msg
    log(msg)
  }

  /** Seeded permutation of the queries for timed round `round`. */
  private def order(round: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + round).shuffle(workload.queries)

  private def attach(on: Boolean): Unit = if (on != attachedRecorder) {
    val sc = spark.sparkContext
    if (on) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
    else { sc.removeSparkListener(rec); spark.listenerManager.unregister(rec) }
    attachedRecorder = on
  }

  private def drain(): Unit = Recorder.drain(spark.sparkContext)

  private def startSession(): Double = {
    if (spark != null) { spark.stop(); attachedRecorder = false }
    val t0 = System.nanoTime()
    spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.addSparkListener(rows)
    attach(traced)
    ms
  }

  /** Session start plus the first open and a reopen of every corpus table. */
  private def setupOnce(corpus: String): Setup = {
    val t0 = System.nanoTime()
    val sessionMs = startSession()
    val t1 = System.nanoTime()
    Main.CorpusTables.foreach(t => Tables.table(spark, corpus, t))
    val firstMs = (System.nanoTime() - t1) / 1e6
    if (traced) drain()
    val j0 = rec.snap()(Counter.Jobs.id)
    val t2 = System.nanoTime()
    Main.CorpusTables.foreach(t => Tables.table(spark, corpus, t))
    val reMs = (System.nanoTime() - t2) / 1e6
    if (traced) drain()
    Setup((System.nanoTime() - t0) / 1e9, sessionMs, firstMs, reMs,
      rec.snap()(Counter.Jobs.id) - j0)
  }

  /** Each query once, in catalog order, its output written for the oracle
    * check. A fixed order here gives every run the same JIT profile before
    * the seed-ordered rounds.
    */
  private def warmUp(): Unit = workload.queries.foreach { q =>
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = fns(q)(spark, dir)
      SchemaGuard.assertScalar(q, df)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve("check").resolve(q).toString)
    } catch { case NonFatal(e) => fail(s"$q (checked run)", e) }
    log(f"checked $q ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  private def round(r: Int, tr: Boolean): Round = {
    if (workload.cold) Shared.clear()
    System.gc()
    drain()
    Shared.drainBuilds()
    val rows0 = rows.rows.sum()
    val acc = LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val lat = order(r).map(q => if (tr) tracedExec(q, acc) else exec(q))
    val wall = (System.nanoTime() - t0) / 1e9
    log(order(r).zip(lat).map { case (q, s) => f"$q $s%.3f" }.mkString(s"round $r: ", ", ", ""))
    drain()
    acc("shared_builds") = Shared.drainBuilds().size.toDouble
    acc("cached_mb") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    Round(wall, lat, rows.rows.sum() - rows0, tr, acc.toMap)
  }

  /** One timed execution: construction plus a noop write, which consumes
    * every row and column without writing bytes.
    */
  private def exec(q: String): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try fns(q)(spark, dir).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) => fail(q, e) }
    (System.nanoTime() - t0) / 1e9
  }

  /** The same execution with a query span whose construct, plan and
    * execute children tile it. Spark jobs attach to the child that is
    * current when they are submitted; plan ends where the planning phases
    * of the write's own SQL execution end.
    */
  private def tracedExec(q: String, acc: LinkedHashMap[String, Double]): Double = {
    attempted += 1
    val sc = spark.sparkContext
    val Seq(qid, cid, pid, eid) = Seq.fill(4)(rec.newId())
    rec.planned.clear()
    val t0 = nowMs
    var t1 = Double.NaN
    sc.setLocalProperty(Recorder.SpanKey, cid.toString)
    try {
      val df = fns(q)(spark, dir)
      t1 = nowMs
      sc.setLocalProperty(Recorder.SpanKey, eid.toString)
      df.write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) => fail(q, e) }
    val t3 = nowMs
    if (t1.isNaN) t1 = t3
    sc.setLocalProperty(Recorder.SpanKey, null)
    drain()
    val plans = rec.planned.asScala.toSeq.filter(_._1 >= t1 - 1)
    val planEnd = if (plans.isEmpty) t1 else math.min(t3, math.max(t1, plans.map(_._2).max))
    Seq(Span(qid, 0, "query", q, t0, t3), Span(cid, qid, "construct", q, t0, t1),
      Span(pid, qid, "plan", q, t1, planEnd), Span(eid, qid, "execute", q, planEnd, t3))
      .foreach(rec.spans.add)
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    add("query_ms", t3 - t0)
    add("construct_ms", t1 - t0)
    add("plan_ms", planEnd - t1)
    add("execute_ms", t3 - planEnd)
    (t3 - t0) / 1000
  }

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def execute(): Unit = {
    Files.createDirectories(out)
    val setups = corpora.map { c =>
      if (c == dir) Shared.drainBuilds() // count the store builds of the last set-up only
      setupOnce(c)
    }
    val tw = System.nanoTime()
    warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    val storeBuilds = Shared.drainBuilds().count(_.startsWith("store:"))
    val setupS = jvmStartS + median(setups.map(_.seconds)) + warmS
    log(f"setup: jvm $jvmStartS%.2f s, set-ups ${setups.map(s => f"${s.seconds}%.2f").mkString(" ")} s, warm-up $warmS%.2f s")

    val rounds = ArrayBuffer.empty[Round]
    val layerSnaps = ArrayBuffer.empty[Array[Long]]
    val minRounds = if (traced) 4 else 3
    val t0 = System.nanoTime()
    var r = 1
    while (rounds.size < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      // untraced and traced rounds in ABBA order, so a warm-up trend
      // across rounds does not read as tracing overhead
      val tr = traced && (r % 4 == 2 || r % 4 == 3)
      attach(tr)
      if (tr) drain()
      val s0 = rec.snap()
      val rd = round(r, tr)
      if (tr) layerSnaps += rec.snap().zip(s0).map { case (a, b) => a - b }
      rounds += rd
      log(f"round $r${if (tr) " (traced)" else ""}: ${rd.wall}%.3f s")
      r += 1
    }
    attach(traced)

    val plain = rounds.filterNot(_.traced).toSeq
    val lat = plain.flatMap(_.latencies).sorted
    val n = lat.size
    // the highest percentile with at least TailBeyond samples beyond it
    val (tail, tailLevel) =
      if (n > TailBeyond) (lat(n - 1 - TailBeyond), 100.0 * (n - TailBeyond) / n)
      else (lat.last, 100.0)
    val e2e = LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(plain.map(_.wall)), "s"),
      "query_p50_s" -> (median(lat), "s"),
      "query_tail_s" -> (tail, "s"),
      "ok_ratio" -> (0.0, "ratio"), // set by run.py after the oracle check
      "peak_rss_mb" -> (vmHwmMb, "MB"),
      "input_rows_per_s" -> (plain.map(_.rows).sum / plain.map(_.wall).sum, "rows/s"),
    )

    val layers = LinkedHashMap.empty[String, (Double, String)]
    if (traced) {
      val tr = rounds.filter(_.traced).toSeq
      val k = tr.size.toDouble
      def per(c: Counter.Value): Double = layerSnaps.map(_(c.id)).sum / k
      def lay(name: String): Double = tr.map(_.layer.getOrElse(name, 0.0)).sum / k
      val spans = rec.spans.asScala.toSeq
      val constructIds = spans.filter(_.layer == "construct").map(_.id).toSet
      val mb = 1024.0 * 1024.0
      layers ++= Seq(
        "core.session.start_ms" -> (median(setups.map(_.sessionMs)), "ms"),
        "core.tables.first_open_ms" -> (median(setups.map(_.firstOpenMs)), "ms"),
        "core.tables.reopen_ms" -> (median(setups.map(_.reopenMs)), "ms"),
        "core.tables.reopen_jobs" -> (setups.last.reopenJobs.toDouble, "count"),
        "sources.store_builds" -> (storeBuilds.toDouble, "count"),
        "sources.input_mb" -> (per(Counter.InputB) / mb, "MB"),
        "sources.output_mb" -> (per(Counter.OutputB) / mb, "MB"),
        "catalog.construct_ms" -> (lay("construct_ms"), "ms"),
        "catalog.construct_jobs" -> (spans.count(s => s.layer == "job" && constructIds(s.parent)) / k, "count"),
        "catalog.construct_share" -> (lay("construct_ms") / lay("query_ms"), "ratio"),
        "core.shared.builds" -> (lay("shared_builds"), "count"),
        "storage.cached_mb" -> (lay("cached_mb"), "MB"),
        "sql.plan_ms" -> (lay("plan_ms"), "ms"),
        "sql.execute_ms" -> (lay("execute_ms"), "ms"),
        "scheduler.jobs" -> (per(Counter.Jobs), "count"),
        "scheduler.stages" -> (per(Counter.Stages), "count"),
        "scheduler.tasks" -> (per(Counter.Tasks), "count"),
        "scheduler.task_wait_ms" -> (per(Counter.TaskWaitMs) / math.max(1.0, per(Counter.Tasks)), "ms"),
        "scheduler.core_busy" -> (per(Counter.RunMs) / (tr.map(_.wall).sum / k * 1000 * cpus), "ratio"),
        "executor.run_ms" -> (per(Counter.RunMs), "ms"),
        "executor.cpu_ms" -> (per(Counter.CpuNs) / 1e6, "ms"),
        "executor.gc_ms" -> (per(Counter.GcMs), "ms"),
        "shuffle.write_mb" -> (per(Counter.ShufWriteB) / mb, "MB"),
        "shuffle.read_mb" -> (per(Counter.ShufReadB) / mb, "MB"),
        "shuffle.records" -> (per(Counter.ShufRecords), "count"),
        "shuffle.fetch_wait_ms" -> (per(Counter.FetchWaitMs), "ms"),
        "shuffle.spill_mb" -> (per(Counter.SpillB) / mb, "MB"),
        "trace.overhead_ms" -> ((median(tr.map(_.wall)) - median(plain.map(_.wall))) * 1000, "ms"),
      )
      Files.write(out.resolve("layers.txt"), Recorder.layerTable(spans).asJava)
      Files.write(out.resolve("spans.jsonl"), spans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":${s.end}}""").asJava)
    }

    val oracle = defs.filter(d => workload.queries.contains(d.name))
      .flatMap(d => d.oracle.map(d.name -> _))
    def metricsJson(m: LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val json =
      s"""{"workload":${Json.str(workload.name)},"seed":$seed,"attempted":$attempted,"failed":$failed,""" +
      s""""rounds":${rounds.size},"tail_level":${Json.num(tailLevel)},"tail_n":$n,""" +
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
      s""""checked":${workload.queries.map(Json.str).mkString("[", ",", "]")},""" +
      s""""oracle":${oracle.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")},""" +
      s""""metrics":${metricsJson(e2e)},"layers":${metricsJson(layers)}}"""
    Files.writeString(out.resolve("result.json"), json)
    spark.stop()
  }
}

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
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
