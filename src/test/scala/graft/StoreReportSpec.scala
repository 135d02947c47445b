package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.StoreReport.Version
import graft.operators.StageCommit.corpusFingerprint

/** StoreReport.scan over a synthetic scratch root: every dir with
  * fingerprint children is an artifact family, whichever component wrote
  * it, and a version is current only under a corpus table's fingerprint.
  */
class StoreReportSpec extends AnyFunSuite {

  test("scan lists FrameStore and resumable_funnel families, flags stale fingerprints") {
    val tmp = Files.createTempDirectory("storereport")
    def file(p: Path, bytes: Int): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, new Array[Byte](bytes))
    }
    val sfDir = tmp.resolve("sf").toString
    file(tmp.resolve("sf/documents.parquet/part-0.parquet"), 7)
    val fp = corpusFingerprint(sfDir, "documents.parquet")
    val stale = "0123456789abcdef"
    val key = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val root = tmp.resolve("scratch")
    file(root.resolve(s"inc_lsh_sets-v2-$key/$fp/part-0"), 10)
    file(root.resolve(s"inc_lsh_sets-v2-$key/$stale/part-0"), 20)
    file(root.resolve(s"resumable_funnel_v1-$key/$fp/stage1/part-0"), 30)
    file(root.resolve(s"resumable_funnel_v1-$key/$fp/stage2/part-0"), 5)
    file(root.resolve(s"text_roundtrip-$key/part-0"), 40)
    file(root.resolve("text_roundtrip-_some_other_corpus/part-0"), 50)

    val s = StoreReport.scan(root, sfDir)
    assert(s.versions.toSet === Set(
      Version("inc_lsh_sets-v2", fp, 1, 10, current = true),
      Version("inc_lsh_sets-v2", stale, 1, 20, current = false),
      Version("resumable_funnel_v1", fp, 2, 35, current = true)))
    assert(s.scratchDirs === 1 && s.scratchBytes === 40)
  }
}
