package graft

import java.nio.file.{Files, Path}
import org.scalatest.BeforeAndAfterAll

/** Staleness pins for the content-addressed staging key: an input
  * rewritten in place, or an engine rebuilt with different code, must
  * never be served the old answer. */
class StagingSpec extends SparkSpec with BeforeAndAfterAll {

  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def tmpDir(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft_$tag")
    made += d
    d
  }

  override def afterAll(): Unit =
    try made.foreach(Staging.deleteRecursively) finally super.afterAll()

  private def version(p: Path): String = Staging.listing(spark, p.toString).version

  test("staging fingerprint sees a same-size, same-mtime rewrite between the head and tail probes") {
    // 10,000 bytes: the head probe reads [0, 4096), the tail probe
    // [5904, 10000); bytes 5000-5100 sit in the gap only the middle
    // probe covers
    val dir = tmpDir("fp_middle")
    val f = dir.resolve("part.bin")
    Files.write(f, Array.tabulate[Byte](10000)(i => (i % 251).toByte))
    val mtime = Files.getLastModifiedTime(f)
    val before = version(dir)
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try { raf.seek(5000); raf.write(Array.fill[Byte](101)(0x7f)) }
    finally raf.close()
    Files.setLastModifiedTime(f, mtime)
    assert(Files.size(f) == 10000L)
    assert(Files.getLastModifiedTime(f) == mtime)
    assert(version(dir) != before,
      "in-place rewrite of the file middle kept the old fingerprint")
  }

  test("the version of a single file changes when its bytes change") {
    val f = tmpDir("fp_file").resolve("t.parquet")
    Files.write(f, Array.fill[Byte](100)(1))
    val mtime = Files.getLastModifiedTime(f)
    val before = version(f)
    assert(version(f) == before, "two listings of one unchanged file disagree")
    Files.write(f, Array.fill[Byte](100)(2))
    Files.setLastModifiedTime(f, mtime)
    assert(version(f) != before, "a rewritten file kept its old version")
  }

  test("split estimate re-runs when the corpus file is rewritten at a different size") {
    // the dense guard's estimate is max(files, bytes / 128 MB) of the
    // listing each dense read makes, so its inputs are never stale
    val f = tmpDir("split_memo").resolve("documents.parquet")
    Files.write(f, Array.fill[Byte](100)(1))
    val before = Staging.listing(spark, f.toString)
    assert(before.files == 1 && before.bytes == 100L)
    assert(Staging.listing(spark, f.toString) == before,
      "two listings of one unchanged file disagree")
    Files.write(f, Array.fill[Byte](200)(2))
    val after = Staging.listing(spark, f.toString)
    assert(after.files == 1 && after.bytes == 200L,
      "a file rewritten in place kept its stale size")
    assert(after.version != before.version)
  }

  test("code digest is stable on one class root and a one-byte class change moves the staged path") {
    val a = tmpDir("code_a")
    Files.createDirectories(a.resolve("graft/x"))
    Files.write(a.resolve("graft/A.class"), Array.tabulate[Byte](300)(_.toByte))
    Files.write(a.resolve("graft/x/B.class"), Array.fill[Byte](200)(3))
    val d = Staging.codeDigest(a)
    assert(Staging.codeDigest(a) == d, "digest differs between two reads of one root")
    // the same classes as jar entries (a packaged engine) digest alike
    val jar = tmpDir("code_jar").resolve("engine.jar")
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(jar))
    try Seq("graft/x/B.class", "graft/A.class").foreach { n =>
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(Files.readAllBytes(a.resolve(n)))
      zip.closeEntry()
    } finally zip.close()
    assert(Staging.codeDigest(jar) == d, "jar and directory forms disagree")

    val b = tmpDir("code_b")
    Files.createDirectories(b.resolve("graft/x"))
    Files.copy(a.resolve("graft/x/B.class"), b.resolve("graft/x/B.class"))
    val bytes = Files.readAllBytes(a.resolve("graft/A.class"))
    bytes(150) = (bytes(150) ^ 1).toByte
    Files.write(b.resolve("graft/A.class"), bytes)
    val e = Staging.codeDigest(b)
    assert(e != d, "a changed class kept the old code digest")

    val src = tmpDir("code_src").toString
    val (pa, pb) = (Staging.pathFor(d, "graft_t", src), Staging.pathFor(e, "graft_t", src))
    assert(pa != pb, "changed builder code resolved to the same staged path")
    assert(pa.getFileName.toString.startsWith("graft_t_"))
    // the running engine's digest names every staged path
    assert(Staging.path("graft_t", src) == Staging.pathFor(Staging.code, "graft_t", src))
  }

  test("code digest throws instead of keying on nothing when no engine class is readable") {
    val empty = tmpDir("code_empty")
    intercept[Exception](Staging.codeDigest(empty))
    Files.createDirectories(empty.resolve("graft"))
    intercept[IllegalStateException](Staging.codeDigest(empty))
  }
}
