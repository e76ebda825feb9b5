package graft.tools

/** Dev tool: time selected catalog queries repeatedly (cold + warm runs)
  * to separate JIT/planning overhead from real execution cost.
  *
  * Round 18: each rep now prints the Bench forensics deltas (process
  * CPU, GC, JIT, Janino codegen count) PLUS the executor-side counters
  * Bench can't see — memory/disk spill, shuffle write, task count —
  * sampled from a SparkListener. The r17 q_embed_project warm>cold
  * inversion showed +700 s of process CPU with JIT/GC/ext all quiet:
  * only a per-rep spill/shuffle readout can split "same plan, more
  * spill" from "different plan". `jobs=` counts the Spark jobs a rep
  * started (building the query included, e.g. a parquet schema
  * inference), the per-query job count ROADMAP direction 2 budgets.
  * Usage: runMain graft.tools.QTime <sfDir> <reps> [names...] */
object QTime {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GRAFT_SHUFFLE_PARTS: A/B the partition count without changing
    // thread parallelism (the config-at-scale experiments)
    val spark = graft.Graft.builder(s"local[$cpus]",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTS", cpus).toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSet

    // cumulative executor-side counters, drained before each snapshot
    // (listener delivery is async — see Forensics.drainListenerBus)
    def drainListenerBus(): Unit =
      graft.Forensics.drainListenerBus(spark.sparkContext)
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val shufRecs = new java.util.concurrent.atomic.AtomicLong(0)
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0)
    val nTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val nJobs = new java.util.concurrent.atomic.AtomicLong(0)
    // GRAFT_QTIME_STAGES=1: per-stage wall/CPU lines — names WHICH
    // stage balloons when a rep's total CPU swings on identical work
    val stageLog = sys.env.contains("GRAFT_QTIME_STAGES")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (stageLog) {
            val s = e.stageInfo
            val cpu = s.taskMetrics.executorCpuTime / 1e9
            val run = s.taskMetrics.executorRunTime / 1e3
            println(f"    stage ${s.stageId}%4d ${s.name.takeWhile(_ != '\n').take(60)}%-60s " +
              f"tasks=${s.numTasks}%4d run=$run%8.1f cpu=$cpu%8.1f")
          }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            memSpill.addAndGet(m.memoryBytesSpilled)
            diskSpill.addAndGet(m.diskBytesSpilled)
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            nTasks.incrementAndGet()
          }
        }
      })
    def procCpu: Long =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
        case _ => -1L
      } catch { case _: Throwable => -1L }
    def gcMs: Long =
      try {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      } catch { case _: Throwable => -1L }

    graft.queries.Registry.all
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        (1 to reps).foreach { rep =>
          // settle async listener traffic from the previous rep
          drainListenerBus()
          val (ms0, ds0, sw0, sr0, tk0, rc0, jb0) = (memSpill.get,
            diskSpill.get, shufWrite.get, shufRead.get, nTasks.get,
            shufRecs.get, nJobs.get)
          val c0 = procCpu; val g0 = gcMs
          val j0 = graft.Forensics.jitMillis
          val cg0 = graft.Forensics.codegenCompileCount
          // forks= counts the processes started during the rep, such as
          // Hadoop's local filesystem running chmod per file it creates
          // GRAFT_QTIME_PLAN: drive the action through df's OWN
          // QueryExecution (collect), so the printed executedPlan is
          // the AQE-final, codegen-collapsed plan that actually ran —
          // count() plans a separate query and leaves df's plan
          // unexecuted (isFinalPlan=false, no WSCG wrappers), which
          // misled the r18 codegen investigation until caught
          val plan = rep == 1 && sys.env.contains("GRAFT_QTIME_PLAN")
          val ((df, wall), forks) = graft.Forensics.forksDuring {
            val t0 = System.nanoTime()
            val df = q.run(spark, dir)
            if (plan) df.collect() else df.count()
            (df, (System.nanoTime() - t0) / 1e9)
          }
          if (plan) println(df.queryExecution.executedPlan.toString)
          spark.catalog.clearCache()
          drainListenerBus()
          val cpu = (procCpu - c0) / 1e9
          val gc = (gcMs - g0) / 1e3
          val jit = (graft.Forensics.jitMillis - j0) / 1e3
          val cg = graft.Forensics.codegenCompileCount - cg0
          def mb(x: Long): Double = x / 1048576.0
          println(f"${q.name}%-24s rep$rep wall=$wall%8.2f cpu=$cpu%8.1f " +
            f"gc=$gc%5.1f jit=$jit%5.1f cgN=$cg%3d " +
            f"spillMemMB=${mb(memSpill.get - ms0)}%9.1f " +
            f"spillDiskMB=${mb(diskSpill.get - ds0)}%9.1f " +
            f"shufWrMB=${mb(shufWrite.get - sw0)}%9.1f " +
            f"shufRecs=${shufRecs.get - rc0}%10d " +
            f"shufRdMB=${mb(shufRead.get - sr0)}%9.1f " +
            f"tasks=${nTasks.get - tk0}%5d jobs=${nJobs.get - jb0}%4d " +
            f"forks=${forks.size}%4d")
        }
      }
    spark.stop()
  }
}
