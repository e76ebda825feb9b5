package graft

import java.nio.file.{Files, Path}

import graft.streaming.{EventsStream, LocalCheckpointFiles}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class LocalCheckpointFilesSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Every entry under `root` as (relative path with UUIDs normalized,
    * POSIX permissions), sorted. */
  private def entries(root: Path): Seq[(String, String)] = {
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  /** A windowed count of the events, streamed into a memory sink with
    * its checkpoint at `ckpt`; the sink's rows, sorted. */
  private def windowedCounts(ckpt: Path, name: String): Seq[String] = {
    val q = EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    try spark.table(name).collect().map(_.toString).toSeq.sorted
    finally spark.catalog.dropTempView(name)
  }

  test("a checkpoint written through LocalCheckpointFiles equals Spark's default one") {
    assert(spark.conf.getOption(managerKey).isEmpty)
    val base = Files.createTempDirectory("graft_ckpt_default_")
    val local = Files.createTempDirectory("graft_ckpt_local_")
    try {
      val baseRows = windowedCounts(base, "graft_ckpt_default")
      val localRows = Graft.withConf(spark,
          managerKey -> classOf[LocalCheckpointFiles].getName) {
        windowedCounts(local, "graft_ckpt_local")
      }
      assert(baseRows.nonEmpty && localRows == baseRows)
      val (want, got) = (entries(base), entries(local))
      // Hadoop's hidden .crc sidecars and Spark's state checksum files
      // (N.delta.crc) are part of what is compared
      def name(e: (String, String)): String = e._1.split('/').last
      assert(want.exists(e => name(e).startsWith(".") && name(e).endsWith(".crc")) &&
        want.exists(e => name(e).endsWith(".delta.crc") && !name(e).startsWith(".")),
        s"no integrity files in $want")
      assert(got == want,
        s"only default: ${want diff got}; only local: ${got diff want}")
    } finally {
      Staging.deleteRecursively(base)
      Staging.deleteRecursively(local)
    }
  }

  test("LocalCheckpointFiles rejects a path that is not on the local filesystem") {
    val conf = new Configuration()
    val remote = new org.apache.hadoop.fs.Path("hdfs://namenode:8020/ckpt/offsets")
    val e = intercept[IllegalArgumentException](new LocalCheckpointFiles(remote, conf))
    assert(e.getMessage.contains(remote.toString), e.getMessage)
    // a path without a scheme resolves against the default filesystem
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    val bare = new org.apache.hadoop.fs.Path("/ckpt/offsets")
    val e2 = intercept[IllegalArgumentException](new LocalCheckpointFiles(bare, conf))
    assert(e2.getMessage.contains(bare.toString), e2.getMessage)
    // a local path is accepted
    val dir = Files.createTempDirectory("graft_ckpt_local_")
    try assert(new LocalCheckpointFiles(
      new org.apache.hadoop.fs.Path(dir.toUri), new Configuration()).isLocal)
    finally Staging.deleteRecursively(dir)
  }
}
