package graft.core

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Round-indexed plan capture for iterative operators.
  *
  * The bench's post-execution plan dump (`target/plans/<query>.txt`) sees
  * only the FINAL frame an iterative operator returns — after per-round
  * [[Materialize]] that is a bare `Scan ExistingRDD`, so the loop body
  * (where a join-strategy or partitioning regression would actually hide)
  * is invisible to `tools/plandigest.py --diff`. Operators call
  * [[capture]] on each round's pre-checkpoint frame AFTER its eager
  * materialization, so the written plan is the finalized adaptive plan
  * that actually executed that round. Files land next to the query-level
  * dumps as `<label>.txt` (label convention: `<query>_round<k>`), and the
  * digest tool picks them up with no changes.
  *
  * Off unless `spark.graft.planTrace.dir` is set (Bench sets it); Verify
  * and tests pay nothing.
  */
object PlanTrace {
  val DirKey = "spark.graft.planTrace.dir"

  def capture(df: DataFrame, label: String): Unit =
    df.sparkSession.conf.getOption(DirKey).filter(_.nonEmpty).foreach { d =>
      try {
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(s"$d/$label.txt"),
          df.queryExecution.explainString(FormattedMode))
      } catch {
        case NonFatal(e) => System.err.println(
          s"[plantrace] $label: ${Measure.message(e)}")
      }
    }
}
