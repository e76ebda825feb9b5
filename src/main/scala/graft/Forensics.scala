package graft

/** JVM JIT/codegen forensic samplers (round 17, VERDICT item 7).
  *
  * The round-16 session-rot diagnosis (SCALE.md "round-16 notes") hinged
  * on three counters that until now lived only in tools/RotBisect's /tmp
  * session logs: cumulative HotSpot compilation time, code-cache
  * occupancy, and the Janino codegen compile count. Folding them into
  * Bench's per-query maps means a future rot regression is caught by
  * `warm_regressions` WITH its diagnosis attached — a warm query whose
  * wall doubles while its jit_sec delta explodes and codegen_n stays 0
  * is the sweeper-flushing signature; nonzero codegen_n on a warm pass
  * is the cache-eviction signature (both legs fixed in build.sbt:66-67
  * and Graft.scala, but config can regress).
  *
  * All samplers are cumulative-monotone (deltas are the per-query
  * signal) and return -1 when the JVM exposes no sensor, so a reader
  * can't mistake "no data" for "flat".
  */
object Forensics {
  /** Block until every event posted to the listener bus so far has been
    * delivered, so counters a `SparkListener` keeps are complete for the
    * work already done. `listenerBus.waitUntilEmpty` is `private[spark]`,
    * so it is reached by reflection; if the accessor ever disappears this
    * falls back to a 300 ms sleep — in that mode, under heavy stages,
    * task-end events can land after the snapshot. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val wait = bus.getClass.getMethods.find(m =>
        m.getName == "waitUntilEmpty" && m.getParameterCount == 1 &&
          m.getParameterTypes()(0) == java.lang.Long.TYPE)
      wait match {
        case Some(m) => m.invoke(bus, java.lang.Long.valueOf(5000L)); ()
        case None => Thread.sleep(300)
      }
    } catch {
      // NonFatal only: swallowing OOM/fatal errors (or an interrupt,
      // without restoring the flag) into a 300 ms sleep hid them
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => Thread.sleep(300)
    }

  /** Cumulative HotSpot JIT compilation milliseconds (all compiler
    * threads). Deltas around a query measure how much re-JIT the query
    * paid — the direct cold-code-flushing evidence. */
  def jitMillis: Long =
    try {
      val b = java.lang.management.ManagementFactory.getCompilationMXBean
      if (b != null && b.isCompilationTimeMonitoringSupported)
        b.getTotalCompilationTime
      else -1L
    } catch { case _: Throwable => -1L }

  /** Current bytes used across the CodeHeap pools (JDK 17 segmented code
    * cache: non-nmethods / profiled / non-profiled). An occupancy that
    * keeps CLIMBING across a session under `-XX:-UseCodeCacheFlushing`
    * toward the 512 MB reserve is the early warning that the
    * flushing-off half of the rot fix is approaching its safety bound. */
  def codeCacheUsedBytes: Long =
    try {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(p => p.getName.startsWith("CodeHeap") ||
          p.getName == "Code Cache")
      if (pools.isEmpty) -1L else pools.map(_.getUsage.getUsed).sum
    } catch { case _: Throwable => -1L }

  /** Cumulative count of Janino whole-stage-codegen compilations in this
    * JVM (Spark's CodegenMetrics source). A WARM pass re-compiling
    * generated classes it already compiled cold means the codegen class
    * cache evicted them — leg 2 of the round-16 rot mechanism. */
  def codegenCompileCount: Long =
    try org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    catch { case _: Throwable => -1L }

  /** A process the JVM started: its command line, and the frames
    * (`class.method`, innermost first) of the thread that started it. */
  final case class Fork(command: String, frames: Seq[String])

  /** `body`'s result and every process the JVM started while it ran, in
    * any thread, from an in-process JFR recording of `jdk.ProcessStart`
    * with stack traces (JFR keeps the innermost 64 frames). The recording
    * is read back from a dump file deleted afterwards. */
  def forksDuring[A](body: => A): (A, Seq[Fork]) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val dump = java.nio.file.Files.createTempFile("graft_forks_", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(dump)
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          Fork(e.getString("command"), frames)
        }.toSeq
      (out, forks)
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }
}
