package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for the engine's ephemeral backfill
  * checkpoints ([[EventsStream.runToTable]], [[EventsStream.runAggregated]]),
  * installed through `spark.sql.streaming.checkpointFileManagerClass` for
  * those runs only.
  *
  * Without `libhadoop`, Hadoop's local filesystem forks a process for
  * file metadata: every `create` and `mkdirs` runs `chmod`
  * (`RawLocalFileSystem.setPermission`), and every `FileContext` rename,
  * the one Spark's default manager uses, runs `readlink` four times. Each
  * offset, commit, state and checksum file of a stream run paid for
  * those forks (SCALE.md, "Ephemeral checkpoint budget").
  *
  * This is Spark's `FileSystemBasedCheckpointFileManager` over Hadoop's
  * checksummed `LocalFileSystem`, so `.crc` sidecars are written and
  * verified as before, and Spark's state-file checksum wrapper still sits
  * on top. Only the raw filesystem under it differs: `setPermission`
  * applies the same mode through `java.nio` instead of a `chmod`
  * process, and `FileSystem.rename` probes no link status. The files,
  * their names and their permissions are those the default manager
  * writes.
  *
  * Local paths only: a path on any other scheme is rejected, naming it. */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFiles.requireLocal(path, hadoopConf), hadoopConf) {

  override protected val fs: FileSystem = {
    val local = new LocalFileSystem(new LocalCheckpointFiles.NioPermissions)
    local.initialize(URI.create("file:///"), hadoopConf)
    local
  }
}

object LocalCheckpointFiles {

  /** `path` if it resolves to the local filesystem (a `file:` path, or a
    * path without a scheme under a `file:` default filesystem). */
  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file")
      throw new IllegalArgumentException(
        s"LocalCheckpointFiles keeps local checkpoints only; $path is on '$scheme'")
    path
  }

  /** Hadoop's raw local filesystem, setting permissions in-process. A mode
    * outside the nine permission bits (sticky, setuid) has no `java.nio`
    * form and keeps Hadoop's own path. */
  private class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0)
        super.setPermission(p, permission)
      else {
        // values() runs OWNER_READ .. OTHERS_EXECUTE, bits 8 down to 0
        val perms = new java.util.HashSet[PosixFilePermission]()
        PosixFilePermission.values.foreach { b =>
          if ((mode >> (8 - b.ordinal) & 1) == 1) perms.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
