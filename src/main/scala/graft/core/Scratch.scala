package graft.core

import java.nio.file.{Files, Paths}

/** Scratch space for round-trip I/O queries (write → read-back → compare).
  * Lives under the repo's target/ dir; keyed by query name + corpus dir so
  * different scale factors never read each other's stale output.
  */
object Scratch {
  val root: String = sys.env.getOrElse("GRAFT_SCRATCH", "target/scratch")

  def dir(name: String, sfDir: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val p = Paths.get(root, s"$name-$key")
    Files.createDirectories(p.getParent)
    p.toString
  }
}
