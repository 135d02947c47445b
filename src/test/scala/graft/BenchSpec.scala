package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.{Measure, Shared}

/** Bench's row loop and artifact lines on two real queries: a plain one
  * (wordcount) and a Shared-memo consumer (bfs_hops), at sf0.001.
  */
class BenchSpec extends SparkSpec {

  test("rows carry cold, warm and attempt records; the short line is last") {
    val sf = "/root/testdata/sf0.001"
    Shared.clear() // bfs_hops' cold attempt must pay its memo build
    val measure = new Measure(spark)
    val harness = new Bench.HarnessErrors
    val rows =
      try Bench.rows(measure, spark, sf, Seq("wordcount", "bfs_hops"), harness,
        plans = false)
      finally measure.close()
    assert(rows.map(_.name) === Seq("wordcount", "bfs_hops"))
    rows.foreach { r =>
      assert(r.ok && r.cold >= 0 && r.warm >= 0, r.name)
      assert(r.attempts.size === Measure.Attempts && r.attempts.forall(_.ok))
    }
    val Seq(cold, warm @ _*) = rows(1).attempts
    assert(cold.builds.contains("bfs_copurchase_edges"))
    assert(warm.forall(!_.builds.contains("bfs_copurchase_edges")))

    val out = Bench.lines(sf, rows, (-1.0, -1.0), Nil, Nil, harness)
    val json = new ObjectMapper()
    val full = json.readTree(out.head)
    for (key <- Seq("queries", "queries_cold", "queries_attempts");
         r <- rows) assert(full.get(key).has(r.name), s"$key.${r.name}")
    assert(full.get("queries_attempts").get("bfs_hops").size === Measure.Attempts)
    assert(full.get("queries").get("wordcount").asDouble ===
      math.round(rows.head.warm * 1000) / 1000.0)
    assert(full.get("harness_errors").isArray && full.get("harness_errors").isEmpty)
    assert(!full.has("queries_max") && !full.has("warm_first"))

    val short = out.last
    assert(short.getBytes("UTF-8").length < 400)
    assert(json.readTree(short).fieldNames.asScala.toSeq === Seq(
      "metric", "value", "unit", "n_queries", "n_errors", "errors",
      "calibration_sec", "calibration_cpu_sec", "calibration_io_sec",
      "headline_total", "gridmix_total", "detail", "sf"))
  }
}
