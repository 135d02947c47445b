package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-wide memo of expensive derived frames (the near-dup shingle
  * graph, its connected-component assignment, the k-means assignment, the
  * co-purchase edge list) shared across the catalog queries that consume
  * them.
  *
  * At 100 TB nobody re-derives the near-dup graph once per downstream
  * consumer — it is computed once and every keep-best / centrality /
  * sampling pass reads the materialized result. This memo is that
  * contract inside one Verify/Bench process: the first consumer pays the
  * build (the frame is [[Materialize]]d, so lineage is truncated and the
  * blocks outlive the building query), later consumers — and later bench
  * attempts — reuse it. Keyed by (session, label, corpus dir): a frame is
  * only valid in the session that built it, and different scale factors
  * never cross. Queries remain individually correct with a cold cache;
  * the memo changes cost, never results.
  */
object Shared {
  private val cache = new ConcurrentHashMap[(Int, String, String), DataFrame]()
  private val buildLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Labels of frames BUILT (not cache-hit) since the last drain. Bench
    * drains around each timed query so the JSON can attribute "this
    * query's max attempt paid the shared build" — otherwise a memoized
    * consumer's cold/warm spread looks like unexplained variance.
    */
  def drainBuilds(): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    var x = buildLog.poll()
    while (x != null) { out += x; x = buildLog.poll() }
    out.toSeq
  }

  /** Record a one-off amortized build that is NOT a memoized DataFrame —
    * e.g. [[graft.catalog.IoCatalog.bucketedJoin]]'s bucketed-table
    * layout write, which persists in the session catalog rather than this
    * cache. Logged builds surface in the bench's `shared_builds` exactly
    * like memo builds, so a first-attempt layout cost is attributed
    * instead of reading as an unexplained max band.
    */
  def noteBuild(label: String): Unit = buildLog.add(label)

  /** Drop every memoized frame (bench/test hook). [[graft.ScaleBench]]
    * clears between timed attempts so the measured time INCLUDES the
    * shared-frame builds: a scaling-exponent measurement that read warm
    * memos would time a cache hit, not the operator.
    *
    * The localCheckpoint blocks are unpersisted EAGERLY, not left to GC +
    * ContextCleaner: repeated cold attempts would otherwise accumulate
    * stale checkpoint blocks in the executor block manager between timed
    * attempts and perturb exactly the cold-path timings this hook exists
    * to make measurable.
    */
  def clear(): Unit = {
    cache.forEach { (key, df) =>
      try {
        // drop the columnar cache entry (no-op for non-persisted memos) …
        df.unpersist(blocking = false)
        // … and the checkpointed RDD, reached through the LogicalRDD node —
        // df.rdd would derive a NEW (unpersisted) RDD from the plan
        df.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
      } catch {
        case NonFatal(e) => System.err.println(
          s"[shared] clear: unpersist of ${key._2} failed: ${Measure.message(e)}")
      }
    }
    cache.clear()
  }

  /** RE-ENTRANT lookup-or-build: `build` runs OUTSIDE the map update, so a
    * memoized frame may itself be built from another memoized frame
    * (keep-best ← components ← shingle graph). `computeIfAbsent` would
    * throw `IllegalStateException("Recursive update")` on exactly that
    * nesting — and whether the nesting is hit depends on which consumer
    * the catalog happens to run first, so it must be safe by construction.
    * Racing builders can at worst build the same frame twice (harmless:
    * the memo trades cost, never results); `putIfAbsent` keeps the first.
    *
    * `persist = true` ADDITIONALLY registers the materialized frame in the
    * SQL columnar cache (populated lazily by the first consumer's first
    * action). For frames an ITERATIVE consumer probes every round (the
    * co-purchase edge set: 8 join rounds per BFS sweep, two sweeps in
    * graph_diameter), the columnar scan is ~2× the checkpoint-RDD scan's
    * speed (measured round 10) — and one process-wide cached copy replaces
    * the former per-sweep `persist`/`unpersist` churn that doubled the
    * block-cache footprint under suite pressure (round-9 regression).
    *
    * `persistPlan = true` caches the build PLAN itself (no checkpoint in
    * between) and populates it eagerly. The difference matters exactly
    * when the build ends in a deliberate `repartition(key)`: a
    * localCheckpoint erases the physical partitioning
    * (`Scan ExistingRDD … UnknownPartitioning` — measured round 14), so a
    * checkpoint-then-persist memo makes every co-partitioned consumer
    * join re-shuffle the frame; the plan-level cache reports the child's
    * HashPartitioning through InMemoryTableScan and the shuffle
    * disappears. Trade: a lost cache block recomputes from the build plan
    * (lineage is NOT truncated) instead of failing fast.
    */
  def memo(spark: SparkSession, label: String, dir: String,
           persist: Boolean = false, persistPlan: Boolean = false)
          (build: => DataFrame): DataFrame = {
    val key = (System.identityHashCode(spark), label, dir)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val built =
        if (persistPlan) {
          val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count() // eager population — same contract as Materialize(eager)
          df
        } else {
          val mat = Materialize(build)
          if (persist) mat.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else mat
        }
      buildLog.add(label)
      val prev = cache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }
}
