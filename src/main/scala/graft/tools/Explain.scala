package graft.tools

/** Dev tool: print formatted physical plans for selected catalog queries
  * (plan review per the scale checklist — pushdown, pruning, join
  * strategy, codegen spans). Not part of the judged surface. */
object Explain {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CPUS so plans can be dumped at the bench's session
    // width — parallelism-gated shapes (the compute-dense scan guard)
    // are invisible at local[4]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Graft.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    graft.queries.Registry.all
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try q.run(spark, dir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
