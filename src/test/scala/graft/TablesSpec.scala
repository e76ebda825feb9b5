package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** The memoized parquet reader ([[Tables.parquet]]): one schema inference
  * per file version and read conf, the same schema and rows as a plain
  * read, and a fresh frame (fresh attribute ids) on every read. */
class TablesSpec extends SparkSpec {

  private lazy val tmp = tempDir("tables")

  private def twoCols = spark.range(20).select(col("id"), (col("id") * 2).as("x"))

  test("a second read of an unchanged table runs no Spark job; the first runs one") {
    val p = tmp.resolve("unchanged").toString
    twoCols.coalesce(1).write.parquet(p)
    val (first, firstJobs) = jobsDuring(Tables.parquet(spark, p))
    val (second, secondJobs) = jobsDuring(Tables.parquet(spark, p))
    assert(firstJobs == 1, s"the first read ran $firstJobs jobs, not the one inference")
    assert(secondJobs == 0, s"the second read ran $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.orderBy("id").collect().toSeq == first.orderBy("id").collect().toSeq)
  }

  test("every corpus table reads with the schema a plain read infers") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { name =>
      val path = s"$sf/$name.parquet"
      val plain = spark.read.parquet(path).schema
      Tables.parquet(spark, path)
      // the second read is the memo's answer
      assert(Tables.parquet(spark, path).schema == plain, s"$name: schema differs")
    }
  }

  test("a single file rewritten in place with an extra column is inferred again") {
    val f = tmp.resolve("single.parquet")
    writeParquetFile(twoCols, f)
    assert(Tables.parquet(spark, f.toString).columns.toSeq == Seq("id", "x"))
    writeParquetFile(twoCols.withColumn("y", col("id") + 1), f)
    val again = Tables.parquet(spark, f.toString)
    assert(again.columns.toSeq == Seq("id", "x", "y"),
      "an in-place rewrite kept the old schema")
    assert(again.agg(sum("y")).head().getLong(0) == (1 to 20).sum)
  }

  test("a single file rewritten in place at the same size and mtime is inferred again") {
    val f = tmp.resolve("same_stamp.parquet")
    writeParquetFile(twoCols, f)
    assert(Tables.parquet(spark, f.toString).columns.toSeq == Seq("id", "x"))
    val (size, mtime) = (Files.size(f), Files.getLastModifiedTime(f))
    writeParquetFile(twoCols.withColumnRenamed("x", "y"), f)
    Files.setLastModifiedTime(f, mtime)
    assert(Files.size(f) == size, "the renamed column changed the file size")
    val again = Tables.parquet(spark, f.toString)
    assert(again.columns.toSeq == Seq("id", "y"),
      "a same-size, same-mtime rewrite kept the old schema")
    assert(again.agg(sum("y")).head().getLong(0) == (0 until 20).map(_ * 2).sum)
  }

  test("a parquet conf or case sensitivity changes the key, and the read infers again") {
    val p = tmp.resolve("confs").toString
    twoCols.coalesce(1).write.parquet(p)
    Tables.parquet(spark, p)
    val base = Tables.readConfs(spark)
    Seq("spark.sql.parquet.binaryAsString" -> "true",
        "spark.sql.caseSensitive" -> "true").foreach { case (k, v) =>
      Graft.withConf(spark, k -> v) {
        assert(Tables.readConfs(spark) != base, s"$k=$v left the key unchanged")
        val (_, jobs) = jobsDuring(Tables.parquet(spark, p))
        assert(jobs == 1, s"under $k=$v the read ran $jobs jobs, not a fresh inference")
      }
    }
    assert(Tables.readConfs(spark) == base)
  }

  test("a missing path raises Spark's own error and is not memoized") {
    val missing = tmp.resolve("no_such_table.parquet").toString
    val e = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    assert(!Tables.schemas.containsKey(missing))
  }

  test("two reads of one table are distinct relations: a self-join resolves") {
    val t = Tables(spark, sf)
    val (a, b) = (t.nation, t.nation)
    val memo = a.join(b, a("n_regionkey") === b("n_nationkey"))
      .select(a("n_name"), b("n_name").as("other"))
    val plainA = spark.read.parquet(s"$sf/nation.parquet")
    val plainB = spark.read.parquet(s"$sf/nation.parquet")
    val plain = plainA.join(plainB, plainA("n_regionkey") === plainB("n_nationkey"))
      .select(plainA("n_name"), plainB("n_name").as("other"))
    val rows = memo.orderBy("n_name").collect().toSeq
    assert(rows.nonEmpty && rows == plain.orderBy("n_name").collect().toSeq)
  }

  test("q_media_crossmodal, which joins two reads of documents, returns its rows") {
    // rows of the query at sf0.001 with every table read by a plain
    // spark.read.parquet
    val q = queries.Registry.all.find(_.name == "q_media_crossmodal").get
    val rows = q.run(spark, sf).collect().map(_.toSeq.mkString("|")).toSeq
    assert(rows == Seq("aligned|167|167|10688", "shifted|166|0|417"),
      rows.mkString("\n"))
  }
}
