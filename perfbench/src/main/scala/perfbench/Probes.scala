package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Process- and host-level counters, read around each query and pass.
  * `jitThreads` is each live JIT compiler thread's CPU seconds. */
final case class Probe(cpuS: Double, jitThreads: Map[String, Double], gcS: Double,
    jitS: Double, compiles: Double, compileS: Double, hostBusyS: Double,
    stealS: Double) {
  /** Counter deltas from `before` to this sample. Compiler threads come and
    * go; one that ended in between adds nothing, one that started adds all
    * its CPU. */
  def since(before: Probe): Delta = Delta(cpuS - before.cpuS,
    jitThreads.map { case (t, s) => s - before.jitThreads.getOrElse(t, 0.0) }.sum,
    gcS - before.gcS, jitS - before.jitS, compiles - before.compiles,
    compileS - before.compileS, hostBusyS - before.hostBusyS, stealS - before.stealS)
}

final case class Delta(cpuS: Double, jitCpuS: Double, gcS: Double, jitS: Double,
    compiles: Double, compileS: Double, hostBusyS: Double, stealS: Double)

object Probe {
  /** `compileS` is the running Janino compile time, when it is captured. */
  def apply(compileS: Double): Probe = {
    val (busy, steal) = hostStat()
    Probe(cpuNanos() / 1e9, jitThreadCpu(), gcMillis() / 1e3,
      graft.Forensics.jitMillis / 1e3,
      graft.Forensics.codegenCompileCount.toDouble, compileS, busy, steal)
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** CPU seconds of each JIT compiler thread, by thread id, from
    * /proc/self/task (their `comm` is "C1 CompilerThre…"/"C2
    * CompilerThre…"; utime and stime are fields 14 and 15, in USER_HZ = 100
    * ticks). The compilation MXBean only gives elapsed compile time, which
    * a busy host inflates. Empty where /proc does not exist. */
  private def jitThreadCpu(): Map[String, Double] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) None
        else {
          val f = stat.substring(close + 2).split(" ")
          Some(t.getName -> (f(11).toLong + f(12).toLong) / 100.0)
        }
      } catch { case _: java.io.IOException => None } // the thread has ended
    }.toMap

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Host busy and steal seconds from /proc/stat's aggregate cpu line
    * (user nice system idle iowait irq softirq steal ...; USER_HZ = 100).
    * Busy is user + nice + system + irq + softirq: steal is time the host
    * ran someone else, not CPU used here. Zero where the file does not
    * exist. */
  private def hostStat(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      ((f(0) + f(1) + f(2) + f(5) + f(6)) / 100.0, f(7) / 100.0)
    } catch { case _: java.io.IOException => (0.0, 0.0) }

  /** CPUs whose time /proc/stat's aggregate line sums (its `cpuN` lines);
    * the JVM's count where the file does not exist. */
  lazy val hostCpus: Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().count(_.matches("cpu[0-9]+ .*")) finally src.close()
    } catch { case _: java.io.IOException => Runtime.getRuntime.availableProcessors }

  /** One-minute load average; -1 where /proc/loadavg does not exist. */
  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: java.io.IOException => -1.0 }

  /** Heap bytes still live after a full, stop-the-world collection, and
    * the histogram's largest classes. The class histogram forces one
    * regardless of -XX:+ExplicitGCInvokesConcurrent, under which
    * System.gc() only starts a concurrent cycle. It is taken twice: the
    * first collection hands the broadcasts and shuffles of the last queries
    * to Spark's ContextCleaner, and the second counts what stays once the
    * cleaner has dropped them. */
  def liveHeap(): (Double, Seq[String]) = {
    def histogram() = ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]),
      Array(classOf[Array[String]].getName)).asInstanceOf[String]
    histogram()
    Thread.sleep(500)
    val lines = histogram().linesIterator.map(_.trim).toSeq
    val total = lines.find(_.startsWith("Total")).map(_.split("\\s+")(2).toDouble)
      .getOrElse(sys.error("no Total line in the class histogram"))
    (total, lines.filter(_.matches("[0-9]+:.*")).take(12))
  }
}

/** Order-insensitive digest of a collected result, to check that every
  * execution of a query returns what its first execution returned. */
object Results {
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(render))

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
