package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Where the engine's derived data is written, how it is published and
  * when it is deleted, and the one rule that says which version of an
  * input is which. No other module picks a scratch path or deletes one.
  *
  * Lifetimes. Content-addressed sets ([[stage]]: bucketed layouts, dedup
  * and vector indexes, sketch tables, format conversions, link farms)
  * are never deleted: a set is named by the code and the input it was
  * built from, so it stays valid for as long as both exist. Per-run
  * directories ([[runDir]]: stream checkpoints, `foreachBatch`
  * partials) are [[release]]d right after their run, or, when a
  * returned frame still reads them, at exit. One shutdown hook is the
  * backstop: it deletes every run directory not yet released.
  *
  * Input identity ([[listing]]). One recursive listing of an input, a
  * file or a directory tree, through Hadoop `FileSystem` (so any
  * filesystem Spark reads works) yields a version digest, the number of
  * data files and their byte total. The digest covers the qualified
  * root path and then, for every data file in name order, its path
  * relative to the root, its size, its mtime, and its first, middle and
  * last 4 KB. Names starting with `_` or `.` are skipped at every level,
  * as Spark skips them (`_SUCCESS`, `.crc`). The probes are there
  * because size and mtime alone miss a same-size rewrite inside the
  * filesystem's mtime granularity (some truncate to whole seconds):
  * parquet's header and footer change with any new data, row groups,
  * stats or schema, and the middle probe samples the data pages between
  * them in files over 8 KB. Every reuse of derived state keys on this
  * one digest: a staged artifact's path ([[path]]), a parquet input's
  * memoized schema (`Tables.parquet`), the link farm of a streamed table
  * (`EventsStream.readTable`) and the similarity guards' cached
  * verdicts; the dense-scan guard reads its file count and bytes. An
  * input rewritten in place gets a new version, so nothing derived from
  * its old bytes is served again, and no two input paths share one.
  */
object Staging {

  /** One listing of an input: its version digest, its data-file count
    * and their byte total. */
  final case class Listing(version: String, files: Int, bytes: Long)

  /** The [[Listing]] of `path` under the session's Hadoop conf. A
    * missing path lists as no files, under a version of its own. A file
    * that cannot be read fully digests a marker instead of failing the
    * caller: determinism over completeness for a cache key. */
  private[graft] def listing(spark: SparkSession, path: String): Listing = {
    import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, Path => HPath}
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // probes read the bytes themselves: a checksummed filesystem would
    // also verify the `.crc` sidecar the listing skips
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case o => o
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(fs.makeQualified(p).toString.getBytes("UTF-8"))
    var files = 0
    var bytes = 0L
    def visit(st: FileStatus, rel: String): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath)
        .filterNot { c =>
          val n = c.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .sortBy(_.getPath.getName)
        .foreach(c => visit(c, s"$rel/${c.getPath.getName}"))
      else {
        val size = st.getLen
        files += 1
        bytes += size
        md.update(s"|$rel:$size:${st.getModificationTime}".getBytes("UTF-8"))
        try {
          val in = raw.open(st.getPath)
          def probe(pos: Long): Unit = {
            val buf = new Array[Byte](math.min(4096L, size - pos).toInt)
            in.readFully(pos, buf)
            md.update(buf)
          }
          try {
            probe(0L)
            if (size > 8192) probe(size / 2)
            if (size > 4096) probe(math.max(4096L, size - 4096))
          } finally in.close()
        } catch {
          case _: java.io.IOException => md.update("!unreadable".getBytes("UTF-8"))
        }
      }
    val root =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.fold(md.update("!missing".getBytes("UTF-8")))(visit(_, ""))
    Listing(md.digest().take(8).map(b => f"$b%02x").mkString, files, bytes)
  }

  /** Digest of the engine's compiled `graft/**/*.class` files, read from
    * `root` (a class directory or a jar) in name order: the PRODUCING
    * CODE's identity. The input [[listing]] covers the inputs, but a change
    * to a builder's algebra (transcode rotation, centroid arithmetic, band
    * layout) would otherwise reuse the stale artifact under the same path
    * and surface as an oracle hash mismatch instead of a rebuild. Throws
    * when no class can be read: a constant stand-in would make every
    * build share one identity again. */
  private[graft] def codeDigest(root: Path): String = {
    import scala.jdk.CollectionConverters._
    val jar =
      if (Files.isDirectory(root)) None
      else Some(java.nio.file.FileSystems.newFileSystem(root))
    try {
      val base = jar.fold(root)(_.getPath("/"))
      val walk = Files.walk(base.resolve("graft"))
      val classes = try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".class"))
        .map(f => base.relativize(f).iterator().asScala.mkString("/") -> f)
        .toArray.sortBy(_._1)
      finally walk.close()
      if (classes.isEmpty)
        throw new IllegalStateException(s"no graft classes under $root")
      val md = java.security.MessageDigest.getInstance("MD5")
      classes.foreach { case (name, f) =>
        val bytes = Files.readAllBytes(f)
        md.update(s"$name:${bytes.length}|".getBytes("UTF-8"))
        md.update(bytes)
      }
      md.digest().take(8).map(b => f"$b%02x").mkString
    } finally jar.foreach(_.close())
  }

  /** [[codeDigest]] of the classes this JVM runs, computed once. */
  private[graft] lazy val code: String = codeDigest(Paths.get(
    getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  private[graft] def pathFor(code: String, prefix: String, srcDir: String): Path =
    Paths.get(tmpDir, s"${prefix}_${code}_${listing(SparkSession.active, srcDir).version}")

  /** Staging path for artifact `prefix` derived from `srcDir`, under
    * `java.io.tmpdir`: artifact identity = engine [[code]] digest × the
    * input's version ([[listing]], under the active session's Hadoop
    * conf). */
  def path(prefix: String, srcDir: String): Path = pathFor(code, prefix, srcDir)

  /** The signature before the code digest replaced the hand-kept version
    * number; the number is ignored. Kept only because the `perfbench/`
    * harness still resolves `__STAGED:<prefix>:vN__` through it. */
  @deprecated("the code digest is the artifact's code identity", "0.1.0")
  def path(prefix: String, srcDir: String, version: Int): Path =
    pathFor(code, prefix, srcDir)

  /** The file whose presence marks a staged set as published. */
  private[graft] val Published = "_SUCCESS"

  /** The staged set `prefix` derived from `srcDir` (at [[path]], plus
    * `suffix` for a sidecar named after another set), built by `build` the
    * first time any JVM asks for it; returns its path.
    *
    * Publication is atomic: two JVMs sharing the temp dir (a test suite
    * and a bench run) must never interleave `mode("overwrite")` writes,
    * with one reading a directory the other is mid-rewrite. `build` runs
    * against a process-unique temp sibling; the finished tree, with
    * [[Published]] in it, is renamed into place in one filesystem
    * operation, so readers only ever see absent-or-complete. A build
    * that throws publishes nothing. Losing a publication race is benign:
    * the build is deterministic (that's the staging contract), so the
    * winner's bytes are ours — the loser just deletes its temp tree. */
  def stage(prefix: String, srcDir: String, suffix: String = "")(
      build: Path => Unit): String = {
    val out = Paths.get(path(prefix, srcDir).toString + suffix)
    if (Files.exists(out.resolve(Published))) return out.toString
    val tmp = out.resolveSibling(out.getFileName.toString +
      s".build-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.createDirectories(tmp)
    try {
      build(tmp)
      if (!Files.exists(tmp.resolve(Published)))
        Files.write(tmp.resolve(Published), Array.emptyByteArray)
      try Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // destination appeared since our check: a concurrent builder
        // published first — use theirs, drop ours
        case _: java.nio.file.FileAlreadyExistsException
            | _: java.nio.file.FileSystemException
            if Files.exists(out.resolve(Published)) => ()
      }
    } finally if (Files.exists(tmp)) deleteRecursively(tmp)
    out.toString
  }

  /** A new, empty directory for one run's scratch data (a stream's
    * checkpoint, its `foreachBatch` partials, a test's files), named
    * `prefix` plus a unique suffix. With `ram`, it sits in RAM-backed
    * `/dev/shm` when that is writable with at least 1 GiB usable
    * (containers often cap tmpfs at 64 MB, where state deltas would hit
    * ENOSPC mid-query); otherwise, and without `ram`, in
    * `java.io.tmpdir`. The caller [[release]]s it as soon as nothing
    * reads it any more; the exit hook deletes whatever is left. */
  def runDir(prefix: String, ram: Boolean): Path = {
    val shm = Paths.get("/dev/shm")
    val inRam = ram && Files.isWritable(shm) &&
      (try Files.getFileStore(shm).getUsableSpace >= (1L << 30)
       catch { case _: Throwable => false })
    val dir = Files.createTempDirectory(if (inRam) shm else Paths.get(tmpDir), prefix)
    exitHook
    atExit.add(dir)
    dir
  }

  /** Delete a [[runDir]] now and drop it from the exit hook's queue.
    * Best-effort: a failure leaves the dir to the hook. */
  def release(dir: Path): Unit = {
    deleteRecursively(dir)
    atExit.remove(dir)
  }

  private def tmpDir: String = sys.props("java.io.tmpdir")

  /** Run directories not yet released, deleted by ONE shutdown hook (not
    * one hook thread per directory: a long-lived session makes an
    * unbounded number of them). */
  private val atExit = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var dir = atExit.poll()
      while (dir != null) {
        deleteRecursively(dir)
        dir = atExit.poll()
      }
    }))

  /** Best-effort recursive delete with the walk's directory handles
    * closed (long-lived sessions call this once per query). */
  private[graft] def deleteRecursively(p: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toArray.sortBy(-_.getNameCount)
        .foreach(f => try Files.deleteIfExists(f) catch {
          case _: java.io.IOException => ()
        })
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
