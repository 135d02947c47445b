package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.SparkSpec

/** Measure: the bench's per-attempt cause fields are deltas of
  * listener-accumulated TaskMetrics over the attempt's own window — pin
  * that an attempt (a) sees its job's tasks, (b) is billed shuffle bytes
  * for a shuffling job and none for a map-only one, (c) never reports a
  * negative delta, (d) turns a throw into an error record without
  * breaking the next attempt, and (e) bills a memo build to the attempt
  * that paid it.
  */
class MeasureSpec extends SparkSpec {

  private def withMeasure[T](body: Measure => T): T = {
    val m = new Measure(spark)
    try body(m) finally m.close()
  }

  test("attempt deltas attribute a job's tasks and shuffle to its window") {
    withMeasure { m =>
      // a shuffling job: 2^18 rows through a groupBy
      val shuffled = m.attempt((s, _) => s.range(0, 1L << 18, 1, 8)
        .selectExpr("id % 97 AS k", "id").groupBy("k").agg(sum("id")), "")
      assert(shuffled.ok && shuffled.sec >= 0)
      assert(shuffled.tasks > 0, "no tasks attributed to the window")
      assert(shuffled.shufWriteBytes > 0, "groupBy job wrote no shuffle bytes")
      assert(shuffled.taskMs >= 0 && shuffled.taskGcMs >= 0 &&
        shuffled.spillBytes >= 0 && shuffled.gcMs >= 0)

      // a map-only job: no exchange anywhere
      val mapOnly = m.attempt(
        (s, _) => s.range(0, 1L << 16, 1, 8).selectExpr("id + 1 AS x"), "")
      assert(mapOnly.tasks > 0)
      assert(mapOnly.shufWriteBytes === 0,
        "map-only job must not be billed shuffle bytes")
    }
  }

  test("jvmGcMs is monotone non-negative") {
    val a = Measure.jvmGcMs
    System.gc()
    val b = Measure.jvmGcMs
    assert(a >= 0 && b >= a)
  }

  test("a throwing fn yields an error record; the next attempt is still measured") {
    var calls = 0
    val fn = (s: SparkSession, _: String) => {
      calls += 1
      calls match {
        case 1 => throw new IllegalStateException("boom at construction")
        case 2 => s.range(0, 4, 1, 2).selectExpr("raise_error('boom in a task') AS x")
        case _ => s.range(0, 1L << 16, 1, 4).selectExpr("id * 2 AS x")
      }
    }
    val row = withMeasure(_.row("flaky", fn, ""))
    val Seq(a1, a2, a3) = row.attempts
    assert(a1.error.contains("boom at construction") && a1.sec === -1.0)
    assert(a2.error.exists(_.contains("boom in a task")) && a2.sec === -1.0)
    assert(a1.json.contains("\"error\":") && !a3.json.contains("\"error\""))
    assert(a3.ok && a3.sec >= 0 && a3.tasks > 0)
    assert(row.cold === -1.0 && row.warm === a3.sec && row.ok)
    assert(row.error.contains("boom at construction"))
  }

  test("a Shared.memo build is billed to the cold attempt only") {
    val label = "measurespec_memo"
    val fn = (s: SparkSession, d: String) => {
      val built: DataFrame = Shared.memo(s, label, d)(s.range(0, 100).toDF("x"))
      built.groupBy().count()
    }
    withMeasure { m =>
      val warmMemo = m.row("memo", fn, "/measurespec")
      assert(warmMemo.attempts.head.builds === Seq(label))
      assert(warmMemo.attempts.tail.forall(_.builds.isEmpty))
      // clearMemo: every attempt pays the build
      val cold = m.row("memo", fn, "/measurespec", attempts = 2, clearMemo = true)
      assert(cold.attempts.forall(_.builds == Seq(label)))
    }
  }
}
