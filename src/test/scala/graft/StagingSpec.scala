package graft

import java.nio.file.{Files, Path, Paths}

/** Staleness pins for the content-addressed staging key: an input
  * rewritten in place, or an engine rebuilt with different code, must
  * never be served the old answer. And the publication and lifetime
  * rules: a staged set is published whole or not at all, and built once;
  * a stream's run directories are gone when its run ends. */
class StagingSpec extends SparkSpec {

  private def version(p: Path): String = Staging.listing(spark, p.toString).version

  test("staging fingerprint sees a same-size, same-mtime rewrite between the head and tail probes") {
    // 10,000 bytes: the head probe reads [0, 4096), the tail probe
    // [5904, 10000); bytes 5000-5100 sit in the gap only the middle
    // probe covers
    val dir = tempDir("fp_middle")
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
    val f = tempDir("fp_file").resolve("t.parquet")
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
    val f = tempDir("split_memo").resolve("documents.parquet")
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
    val a = tempDir("code_a")
    Files.createDirectories(a.resolve("graft/x"))
    Files.write(a.resolve("graft/A.class"), Array.tabulate[Byte](300)(_.toByte))
    Files.write(a.resolve("graft/x/B.class"), Array.fill[Byte](200)(3))
    val d = Staging.codeDigest(a)
    assert(Staging.codeDigest(a) == d, "digest differs between two reads of one root")
    // the same classes as jar entries (a packaged engine) digest alike
    val jar = tempDir("code_jar").resolve("engine.jar")
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(jar))
    try Seq("graft/x/B.class", "graft/A.class").foreach { n =>
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(Files.readAllBytes(a.resolve(n)))
      zip.closeEntry()
    } finally zip.close()
    assert(Staging.codeDigest(jar) == d, "jar and directory forms disagree")

    val b = tempDir("code_b")
    Files.createDirectories(b.resolve("graft/x"))
    Files.copy(a.resolve("graft/x/B.class"), b.resolve("graft/x/B.class"))
    val bytes = Files.readAllBytes(a.resolve("graft/A.class"))
    bytes(150) = (bytes(150) ^ 1).toByte
    Files.write(b.resolve("graft/A.class"), bytes)
    val e = Staging.codeDigest(b)
    assert(e != d, "a changed class kept the old code digest")

    val src = tempDir("code_src").toString
    val (pa, pb) = (Staging.pathFor(d, "graft_t", src), Staging.pathFor(e, "graft_t", src))
    assert(pa != pb, "changed builder code resolved to the same staged path")
    assert(pa.getFileName.toString.startsWith("graft_t_"))
    // the running engine's digest names every staged path
    assert(Staging.path("graft_t", src) == Staging.pathFor(Staging.code, "graft_t", src))
  }

  test("code digest throws instead of keying on nothing when no engine class is readable") {
    val empty = tempDir("code_empty")
    intercept[Exception](Staging.codeDigest(empty))
    Files.createDirectories(empty.resolve("graft"))
    intercept[IllegalStateException](Staging.codeDigest(empty))
  }

  /** `out`'s `.build-*` siblings: the temp trees of unfinished builds. */
  private def buildSiblings(out: Path): Seq[String] = {
    val ls = Files.list(out.getParent)
    try ls.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith(s"${out.getFileName}.build-"))
    finally ls.close()
  }

  test("a build that throws publishes nothing and leaves no build tree behind") {
    val src = tempDir("stage_fail").toString
    val out = Staging.path("graft_t_fail", src)
    val e = intercept[IllegalStateException](Staging.stage("graft_t_fail", src) { tmp =>
      Files.write(tmp.resolve(Staging.Published), Array.emptyByteArray)
      throw new IllegalStateException("build failed")
    })
    assert(e.getMessage == "build failed")
    assert(!Files.exists(out), s"a failed build published $out")
    assert(buildSiblings(out).isEmpty, s"a failed build left ${buildSiblings(out)}")
  }

  test("a second stage call of a published set does not run its build") {
    val src = tempDir("stage_once").toString
    var builds = 0
    def stage(): String = Staging.stage("graft_t_once", src) { tmp =>
      builds += 1
      Files.write(tmp.resolve("part"), Array[Byte](1, 2, 3))
    }
    val first = Paths.get(stage())
    try {
      val marker = Files.getLastModifiedTime(first.resolve(Staging.Published))
      assert(Paths.get(stage()) == first)
      assert(builds == 1, s"the build ran $builds times")
      assert(Files.getLastModifiedTime(first.resolve(Staging.Published)) == marker)
      assert(Files.readAllBytes(first.resolve("part")).toSeq == Seq[Byte](1, 2, 3))
      assert(buildSiblings(first).isEmpty)
    } finally Staging.deleteRecursively(first)
  }

  test("a finished stream run leaves no checkpoint in /dev/shm or the temp dir") {
    def checkpoints: Set[Path] =
      Seq(Paths.get("/dev/shm"), Paths.get(sys.props("java.io.tmpdir")))
        .filter(Files.isDirectory(_)).flatMap { d =>
          val ls = Files.list(d)
          try ls.toArray.toSeq.map(_.asInstanceOf[Path]) finally ls.close()
        }.filter(_.getFileName.toString.startsWith("graft_ckpt_")).toSet
    // q_stream_tumbling runs through runToTable, q_stream_session
    // through runAggregated; the first run of each stages its inputs
    Seq("q_stream_tumbling", "q_stream_session").foreach { name =>
      val q = graft.queries.Registry.all.find(_.name == name).get
      q.run(spark, sf).collect()
      val before = checkpoints
      assert(q.run(spark, sf).collect().nonEmpty)
      val left = checkpoints -- before
      assert(left.isEmpty, s"$name left $left")
    }
  }
}
