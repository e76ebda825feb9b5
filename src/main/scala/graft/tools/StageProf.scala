package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev main (not driver surface): per-STAGE attribution for one catalog
  * query — the "which operator owns the time" instrument that QTime
  * (per-rep totals) cannot answer. Runs the query `reps` times and prints
  * every completed stage's wall, executor CPU, task count, shuffle
  * read/write and the operation scopes of its RDDs (`Scan parquet`,
  * `WholeStageCodegen (3)`, `Exchange`, …), not the call site, which
  * names no operator for a stage AQE submits from its pool thread.
  *
  *   sbt "runMain graft.tools.StageProf /root/testdata/sf0.1 2 q_graph_pagerank"
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = names.map(n => graft.queries.Registry.all.find(_.name == n)
      .getOrElse(sys.error(s"unknown query: $n")))
    @volatile var rows =
      Vector.empty[(Int, String, Double, Double, Long, Double, Double)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name))
          .distinct.mkString(", ")
        rows = rows :+ ((si.stageId, scopes, wall,
          m.executorCpuTime / 1e9, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0))
      }
    })
    for (q <- qs; rep <- 1 to reps) {
      rows = Vector.empty
      val t0 = System.nanoTime()
      q.run(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // let straggler stage-completed events land before printing
      graft.Forensics.drainListenerBus(spark.sparkContext)
      println(f"== rep $rep ${q.name} wall=$wall%.2f s ==")
      println(f"${"stage"}%7s ${"wall_s"}%7s ${"cpu_s"}%7s " +
        f"${"tasks"}%6s ${"shRdMB"}%8s ${"shWrMB"}%8s  scopes")
      rows.sortBy(-_._4).take(12).foreach { case (id, sc, w, c, t, rd, wr) =>
        println(f"$id%7d $w%7.2f $c%7.2f $t%6d $rd%8.1f $wr%8.1f  $sc")
      }
      println(f"stage cpu total = ${rows.map(_._4).sum}%.1f s over " +
        f"${rows.size} stages")
    }
    spark.stop()
  }
}
