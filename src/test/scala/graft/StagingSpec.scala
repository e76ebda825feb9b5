package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Staleness pins for the content-addressed staging key and the
  * compute-dense split memo: an input rewritten in place must never be
  * served the old input's answer. */
class StagingSpec extends AnyFunSuite {

  private def tmpDir(tag: String): Path = Files.createTempDirectory(s"graft_$tag")

  test("staging fingerprint sees a same-size, same-mtime rewrite between the head and tail probes") {
    // 10,000 bytes: the head probe reads [0, 4096), the tail probe
    // [5904, 10000); bytes 5000-5100 sit in the gap only the middle
    // probe covers
    val dir = tmpDir("fp_middle")
    val f = dir.resolve("part.bin")
    Files.write(f, Array.tabulate[Byte](10000)(i => (i % 251).toByte))
    val mtime = Files.getLastModifiedTime(f)
    val before = Staging.fingerprint(dir.toString)
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try { raf.seek(5000); raf.write(Array.fill[Byte](101)(0x7f)) }
    finally raf.close()
    Files.setLastModifiedTime(f, mtime)
    assert(Files.size(f) == 10000L)
    assert(Files.getLastModifiedTime(f) == mtime)
    assert(Staging.fingerprint(dir.toString) != before,
      "in-place rewrite of the file middle kept the old fingerprint")
  }

  test("split estimate re-runs when the corpus file is rewritten at a different size") {
    val f = tmpDir("split_memo").resolve("documents.parquet")
    Files.write(f, Array.fill[Byte](100)(1))
    var runs = 0
    def estimate(): Long = Tables.splitEstimate(f.toString,
      () => { runs += 1; runs.toLong })
    assert(estimate() == 1L)
    assert(estimate() == 1L && runs == 1, "unchanged file must hit the memo")
    Files.write(f, Array.fill[Byte](200)(2))
    assert(estimate() == 2L && runs == 2,
      "a file rewritten in place kept its stale split estimate")
  }
}
