package graft

import scala.util.control.NonFatal

import graft.core.{GraftSession, Json, Measure}

/** Scaling-exponent bench: time the heaviest catalog queries at two scale
  * factors (sf0.1 and the [[ScaleUp]]-derived sf1) and report each query's
  * empirical exponent `log(t_sf1 / t_sf0.1) / log(factor)` — the direct
  * measurement behind every "this plan holds at 100×" claim. A
  * candidate-volume-bounded design should land ≈1 (linear in data);
  * anything well above ~1.2 is a hidden pair blowup that sf0.1 alone
  * cannot see.
  *
  * `runMain graft.ScaleBench [smallDir] [bigDir] [factor] [q1,q2,...]`
  *
  * Protocol: [[Bench]]'s row protocol (one cold attempt, warm = min of
  * the rest) per (query, dir), small dir first, with one difference:
  * [[graft.core.Shared.clear]] before EVERY attempt. The memo turns a
  * later attempt into a cache read, and a scaling exponent measured on
  * cache hits would be meaningless — here each attempt pays the full
  * derive-from-parquet cost, so the exponent covers the builds too, while
  * the cold attempt still absorbs the JIT/codegen ramp.
  */
object ScaleBench {
  val DefaultQueries: Seq[String] = Seq(
    "ngram_jaccard", "lsh_recall_audit", "containment_pairs", "bootstrap_ci",
    "typo_join", "ndcg_eval", "nb_classify", "graph_diameter", "ann_pq",
    "dedup_simhash",
    // the iterative graph family (round-10 extension): their "per-round
    // cost is data-linear, round count bounded" claim was extrapolated
    // until measured here
    "dedup_cluster", "pagerank", "bfs_hops", "ktruss_graph", "kcore_graph")

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toDouble else 10.0
    val queries =
      if (args.length > 3) args(3).split(',').toSeq else DefaultQueries
    val spark = GraftSession.fromEnv()
    val measure = new Measure(spark)
    val harness = new Bench.HarnessErrors

    val rows = queries.flatMap(q => harness.guard(q) {
      val ts = measure.row(q, SparkEntry.queries(q), small, clearMemo = true)
      val tb = measure.row(q, SparkEntry.queries(q), big, clearMemo = true)
      ts.error.orElse(tb.error).foreach(harness.note(q, _))
      val exp = math.log(tb.warm / ts.warm) / math.log(factor)
      println(f"[scalebench] $q%-20s sf0.1 ${ts.warm}%7.2f s   sf1 ${tb.warm}%7.2f s   exponent $exp%5.2f")
      // a failed side has no exponent: null, not a number or NaN (not JSON)
      q -> Json.obj(Seq("sf01_sec" -> f"${ts.warm}%.3f", "sf1_sec" -> f"${tb.warm}%.3f",
        "exponent" -> (if (ts.ok && tb.ok) f"$exp%.3f" else "null")))
    })
    val json = Json.obj(rows :+ ("harness_errors" -> harness.json))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/scalebench.json"), json + "\n")
    catch {
      case NonFatal(e) =>
        System.err.println(s"[harness] target/scalebench.json: ${Measure.message(e)}")
    }
    spark.stop()
    println(json)
  }
}
