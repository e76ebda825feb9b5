package graft

import java.nio.file.{Files, Path, Paths}

/** Content-addressed /tmp staging for write-once derived artifacts
  * (bucketed copies, dedup indexes, sketch tables, format conversions).
  *
  * Keying the staged path on `dir.hashCode` (rounds 1–9) had two failure
  * modes the round-10 advice flagged: regenerating testdata IN PLACE
  * (which round 10's driver demonstrably did for `events.ts`) silently
  * reuses a stale artifact because the path string didn't change, and
  * `String.hashCode` collisions across different dirs are possible. Both
  * die with a content fingerprint: the staged path embeds a digest of the
  * source directory's file listing (relative path, size, mtime of every
  * file), so regenerated inputs land in a FRESH staged path and two dirs
  * can only share an artifact by having byte-dated-identical listings.
  * Stale artifacts from older fingerprints are simply never read again
  * (tmp reaper territory — nothing consults them).
  *
  * The walk reads metadata plus an 8 KB content probe per file (first and
  * last 4 KB — parquet's header and footer, which change whenever the
  * file is rewritten with different row groups, stats, or data). The
  * probe closes the round-11 advice gap: (path, size, mtime) alone can
  * collide when a regeneration rewrites same-sized files within the
  * filesystem's mtime granularity (some filesystems truncate to whole
  * seconds). Still milliseconds against the write it guards — an sf dir
  * is a handful of tables, a few hundred part files at most — so it runs
  * fresh on every lookup (a cache would defeat the point).
  */
object Staging {

  /** Digest of the source dir's recursive (path, size, mtime) listing
    * plus a first/middle/last-4 KB content probe of every regular file. */
  private[graft] def fingerprint(srcDir: String): String = {
    val root = Paths.get(srcDir).toAbsolutePath.normalize
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(root.toString.getBytes("UTF-8"))
    if (Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.toArray.sortBy(_.toString).foreach {
        (f: Path) =>
          md.update(('|' + root.relativize(f).toString).getBytes("UTF-8"))
          if (Files.isRegularFile(f)) {
            val size = Files.size(f)
            md.update((":" + size + ":" +
              Files.getLastModifiedTime(f).toMillis).getBytes("UTF-8"))
            // read-FULLY loops (a single channel read may legally return
            // short) so the digest is a pure function of the bytes; an
            // unreadable file digests a marker instead of aborting every
            // Staging.path caller — determinism over completeness for a
            // cache key
            def probe(pos: Long): Unit = {
              val buf = java.nio.ByteBuffer.allocate(
                math.min(4096L, size - pos).toInt)
              val ch = java.nio.channels.FileChannel.open(f)
              var eof = false
              try {
                var p = pos
                while (!eof && buf.hasRemaining) {
                  val n = ch.read(buf, p)
                  if (n < 0) eof = true else p += n
                }
              } finally ch.close()
              if (!eof) { buf.flip(); md.update(buf) }
            }
            try {
              probe(0L)
              // middle probe (round-20 advice): head+tail alone could in
              // principle miss a same-size in-place rewrite of file
              // MIDDLES (parquet data pages between an unchanged header
              // and a rewritten-identical footer); sampling the center
              // 4 KB closes that class without reading whole files —
              // size+mtime still guard everything else. Past 8 KB the
              // head and tail probes leave a gap between them; the middle
              // probe samples it.
              if (size > 8192) probe(size / 2)
              if (size > 4096) probe(math.max(4096L, size - 4096))
            } catch {
              case _: java.io.IOException => md.update("!unreadable".getBytes)
            }
          }
      } finally walk.close()
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** /tmp staging path for artifact `prefix` derived from `srcDir`.
    *
    * `version` is the PRODUCING CODE's identity (round-12 advice): the
    * content fingerprint covers the data, but a change to the builder's
    * algebra (transcode rotation, centroid arithmetic, band layout)
    * would otherwise silently reuse the stale artifact under the same
    * path and surface as a baffling oracle hash mismatch instead of a
    * rebuild. Builders bump their version constant when their algebra
    * changes; artifact identity = data fingerprint × code version. */
  def path(prefix: String, srcDir: String, version: Int = 1): Path =
    Paths.get(sys.props("java.io.tmpdir"),
      s"${prefix}_v${version}_${fingerprint(srcDir)}")

  /** Write-once build with ATOMIC publication (round-12 advice: the
    * bare check-then-build let two JVMs sharing /tmp — a test suite and
    * a bench run — interleave `mode("overwrite")` writes, with one
    * reading a directory the other was mid-rewrite). `build` runs
    * against a process-unique temp sibling; the finished tree is
    * renamed into place in one filesystem operation, so readers only
    * ever see absent-or-complete. Losing a publication race is benign:
    * the build is deterministic (that's the staging contract), so the
    * winner's bytes are ours — the loser just deletes its temp tree.
    * Returns `out` with `marker` guaranteed present. */
  def buildOnce(out: Path, marker: String)(build: Path => Unit): Path = {
    if (Files.exists(out.resolve(marker))) return out
    val tmp = out.resolveSibling(out.getFileName.toString +
      s".build-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.createDirectories(tmp)
    try {
      build(tmp)
      if (!Files.exists(tmp.resolve(marker)))
        Files.write(tmp.resolve(marker), Array.emptyByteArray)
      try Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // destination appeared since our check: a concurrent builder
        // published first — use theirs, drop ours
        case _: java.nio.file.FileAlreadyExistsException
            | _: java.nio.file.FileSystemException
            if Files.exists(out.resolve(marker)) => ()
      }
    } finally if (Files.exists(tmp)) deleteRecursively(tmp)
    out
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(p)
    try walk.iterator().asScala.toArray.sortBy(-_.getNameCount)
      .foreach(f => try Files.deleteIfExists(f) catch {
        case _: java.io.IOException => ()
      })
    finally walk.close()
  }
}
