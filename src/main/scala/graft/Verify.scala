package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.core.{GraftSession, Json}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration;
    // the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        graft.catalog.SchemaGuard.assertScalar(name, df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a dump from an EARLIER run must not survive a crash here — a
        // stale-but-plausible parquet would make the compare report green
        // for a query that just failed
        val stale = Paths.get(outDir, name)
        if (Files.exists(stale)) {
          import scala.jdk.CollectionConverters._
          Files.walk(stale).iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
        }
      }
    }
    // always dump the FULL oracle map, even under a query filter: a
    // filtered dev run would otherwise clobber the map a prior full run
    // wrote, and every unfiltered dump sitting in outDir would fail the
    // next selfcheck with a missing-oracle KeyError. The checker iterates
    // the union of oracle keys and dump dirs, so in a fresh workspace a
    // filtered run still reports the un-run keys as missing — correct,
    // since they genuinely have no dump to compare.
    val json = Json.obj(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
