package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode}

/** foreachBatch: the streaming multi-sink — one micro-batch fanned out to
  * several writers (the streaming analog of the facade's fan-out, and the
  * standard way to reuse batch sinks from a stream). */
class ForeachBatchSpec extends SparkSpec {

  test("one stream feeds two sinks per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("feb").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cached = batch.cache()
        try {
          cached.write.mode(SaveMode.Append).parquet(s"$tmp/all")
          cached.filter(col("k") % 2 === 0).write
            .mode(SaveMode.Append).parquet(s"$tmp/evens")
        } finally cached.unpersist()
        ()
      }
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      in.addData((4L, "d"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/all").count() == 4)
      assert(spark.read.parquet(s"$tmp/evens").select("k").collect()
        .map(_.getLong(0)).sorted.sameElements(Array(2L, 4L)))
    } finally q.stop()
  }
}
