package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.StageCommit.corpusFingerprint

/** Operator-facing report over the stored-artifact tree: one line per
  * (artifact family, fingerprint) found under the scratch root for a
  * corpus dir — files, bytes, and whether the fingerprint matches the
  * CURRENT corpus (stale versions linger by design until swept; a serving
  * consumer can never read them, because the accessor resolves through
  * the current fingerprint — see [[graft.sources.FrameStore]]).
  *
  * This is the ops/debug face of the `store_census` catalog query: the
  * census attests row counts against the base tables cross-engine; this
  * main attests the BYTES on disk (what a cleanup job or a capacity audit
  * wants). Not a catalog query — nothing here is oracle-expressible, and
  * it must list stale versions, which the census by construction cannot
  * observe.
  *
  * `runMain graft.StoreReport [sfDir]`
  */
object StoreReport {

  final case class Version(family: String, fp: String, files: Long,
                           bytes: Long, current: Boolean)

  /** Artifact versions, plus the round-trip scratch dirs (count, bytes). */
  final case class Scan(versions: Seq[Version], scratchDirs: Int,
                        scratchBytes: Long)

  private val Fp = "[0-9a-f]{16}".r

  private def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def du(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally s.close()
  }

  private def fpDirs(family: Path): Seq[Path] = children(family).filter(c =>
    Files.isDirectory(c) && Fp.matches(c.getFileName.toString))

  /** The dirs under `root` keyed by corpus `sfDir`. A dir with 16-hex
    * children is an artifact family, whatever wrote it ([[graft.sources.FrameStore]],
    * the BM25 store, the resumable funnel's stage root); a version is
    * current when its fingerprint is the corpus fingerprint of one of the
    * corpus' `*.parquet` tables. Every other dir is round-trip scratch.
    */
  def scan(root: Path, sfDir: String): Scan = {
    val suffix = "-" + sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val current = children(Paths.get(sfDir)).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(corpusFingerprint(sfDir, _)).toSet
    val dirs =
      if (!Files.isDirectory(root)) Nil
      else children(root).filter(d =>
        Files.isDirectory(d) && d.getFileName.toString.endsWith(suffix))
    val (families, scratch) = dirs.partition(fpDirs(_).nonEmpty)
    val versions = for (fam <- families; v <- fpDirs(fam)) yield {
      val (files, bytes) = du(v)
      val fp = v.getFileName.toString
      Version(fam.getFileName.toString.stripSuffix(suffix), fp, files, bytes,
        current(fp))
    }
    Scan(versions.sortBy(v => (v.family, v.fp)), scratch.size,
      scratch.map(du(_)._2).sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val s = scan(Paths.get(graft.core.Scratch.root), sfDir)
    println(f"${"family"}%-22s ${"fingerprint"}%-18s ${"files"}%6s ${"MB"}%9s  state")
    s.versions.foreach { r =>
      println(f"${r.family}%-22s ${r.fp}%-18s ${r.files}%6d ${r.bytes / 1e6}%9.1f  ${if (r.current) "CURRENT" else "stale"}")
    }
    val stale = s.versions.filterNot(_.current)
    println(f"== ${s.versions.size} artifact versions, ${stale.size} stale " +
      f"(${stale.map(_.bytes).sum / 1e6}%.1f MB reclaimable); " +
      f"${s.scratchDirs} round-trip scratch dirs " +
      f"(${s.scratchBytes / 1e6}%.1f MB, not corpus-keyed) ==")
  }
}
