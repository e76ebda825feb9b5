package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source/sink surface beyond parquet (SURVEY.md §2.B "Scans / sources"):
  * csv and json round-trips against the parquet ground truth, the
  * spark.range synthetic generator (pyPiper's Generate node), and
  * explicit-schema reads. The driver tables are parquet, so these live in
  * tests rather than the judged catalog. */
class SourcesSpec extends SparkSpec {

  private lazy val nation = Tables(spark, sf).nation
  private lazy val tmp = tempDir("sources").toString

  test("csv round-trip preserves rows (header + explicit schema)") {
    val p = s"$tmp/nation_csv"
    nation.write.mode("overwrite").option("header", "true").csv(p)
    val back = spark.read.option("header", "true")
      .schema(nation.schema).csv(p)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("json round-trip preserves rows") {
    val p = s"$tmp/nation_json"
    nation.write.mode("overwrite").json(p)
    val back = spark.read.schema(nation.schema).json(p)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("spark.range is the Generate-node analog") {
    val squares = spark.range(10).select((col("id") * col("id")).as("sq"))
      .collect().map(_.getLong(0))
    assert(squares.sorted.sameElements((0 until 10).map(i => (i * i).toLong)))
  }

  test("rate source streams monotonically increasing synthetic rows") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(col("value"))
      .writeStream.format("memory").queryName("rate_test")
      .outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("rate_test").isEmpty && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val vs = spark.table("rate_test").collect().map(_.getLong(0))
      assert(vs.nonEmpty, "rate source produced no rows within 30s")
      assert(vs.distinct.length == vs.length && vs.min == 0)
    } finally q.stop()
  }

  test("parquet sink round-trip (the Verify dump path)") {
    val p = s"$tmp/li_out"
    val agg = Tables(spark, sf).lineitem.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
    agg.write.mode("overwrite").parquet(p)
    assert(spark.read.parquet(p).orderBy("l_returnflag").collect().toSeq ==
      agg.orderBy("l_returnflag").collect().toSeq)
  }

  test("compute-dense split estimate memoizes per path; failures are not cached") {
    // The estimate has no memo of its own: it is read off the one listing
    // that also keys the dense read's schema memo, one entry per path. A
    // missing corpus leaves no entry, so a corpus that appears later is
    // read and estimated fresh.
    val dir = Files.createTempDirectory("graft_dense_memo_")
    val table = dir.resolve("documents.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def dense = Tables(spark, dir.toString).documentsDense
    try {
      intercept[org.apache.spark.sql.AnalysisException](dense)
      writeParquetFile(docs, table)
      val (first, firstJobs) = jobsDuring(dense)
      assert(firstJobs == 1,
        s"the corpus written after a failed read ran $firstJobs jobs, not one inference")
      assert(first.schema == docs.schema)
      val (again, againJobs) = jobsDuring(dense)
      assert(againJobs == 0, s"a second dense read of one unchanged path ran $againJobs jobs")
      assert(again.count() == docs.count())
    } finally Staging.deleteRecursively(dir)
  }

  test("the dense guard follows the current listing") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{
      REPARTITION_BY_NUM, ShuffleExchangeExec}
    val dir = Files.createTempDirectory("graft_dense_")
    val table = dir.resolve("documents.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // whether documentsDense, built at parallelism 32, hash-spreads its scan
    def guarded: Boolean = {
      val df = org.apache.spark.GraftParallelismBridge
        .withDefaultParallelism(spark.sparkContext, 32) {
          Tables(spark, dir.toString).documentsDense
        }
      df.queryExecution.sparkPlan.exists {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
          e.child.exists(_.isInstanceOf[FileSourceScanExec])
        case _ => false
      }
    }
    try {
      writeParquetFile(docs, table)
      assert(guarded, "a one-file corpus lost the repartition guard")
      Staging.deleteRecursively(table)
      docs.repartition(8).write.parquet(table.toString)
      val parts = Files.list(table)
      try assert(parts.filter(_.getFileName.toString.endsWith(".parquet")).count() == 8)
      finally parts.close()
      assert(!guarded, "a corpus of 8 parts at parallelism 32 kept the guard")
      Staging.deleteRecursively(table)
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Tables(spark, dir.toString).documentsDense)
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      writeParquetFile(docs, table)
      assert(guarded, "the corpus written back did not restore the guard")
    } finally Staging.deleteRecursively(dir)
  }

  test("dense accessor on a missing corpus raises the canonical scan error") {
    // the guard must never turn a missing table into a probe-time
    // FileNotFoundException: the raw frame's own construction raises
    // the standard AnalysisException first
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables(spark, s"$tmp/no_such_dir_${System.nanoTime()}").documentsDense
    }
    assert(e.getErrorClass != null)
  }
}
