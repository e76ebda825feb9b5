package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM via Test/fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the engine's own session contract (Graft.builder), so suites run
    // under the confs Bench, Verify and perfbench run under
    val s = Graft.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** A new directory for a test's files, named `graft_<tag>_…` in the
    * temp dir. The engine's exit hook deletes it, since every suite runs
    * in one forked JVM. */
  protected def tempDir(tag: String): java.nio.file.Path =
    Staging.runDir(s"graft_${tag}_", ram = false)

  /** `rows` as the single parquet file `file`, replacing any file there. */
  protected def writeParquetFile(rows: org.apache.spark.sql.DataFrame,
      file: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = tempDir("pq")
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = Files.list(tmp)
    val one = try ls.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get() finally ls.close()
    Files.createDirectories(file.getParent)
    Files.move(one, file, StandardCopyOption.REPLACE_EXISTING)
    Staging.release(tmp)
  }

  /** Spark jobs started while `body` ran, counted by a listener. */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    Forensics.drainListenerBus(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      Forensics.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
