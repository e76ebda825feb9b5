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
  private lazy val tmp = Files.createTempDirectory("graft_sources").toString

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
    // round-21 (round-20 advice): the guard's file-metadata probe was
    // ~40 live getFileStatus round-trips per query construction — it is
    // now memoized per corpus path for the JVM. A probe FAILURE must
    // not be memoized (a corpus appearing later re-estimates fresh).
    val key = s"$tmp/split_memo_probe_${System.nanoTime()}"
    intercept[java.io.FileNotFoundException] {
      Tables.splitEstimate(spark, key, () => throw new java.io.FileNotFoundException(key))
    }
    assert(Tables.splitEstimate(spark, key, () => 7L) == 7L,
      "a failed probe must not poison the memo")
    assert(Tables.splitEstimate(spark, key, () => 99L) == 7L,
      "the estimate must be memoized per path")
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
