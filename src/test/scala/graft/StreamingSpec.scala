package graft

import java.sql.Timestamp

import graft.queries.{Streaming, UserSnapshot, UserState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Multi-batch streaming semantics that the AvailableNow-based judged
  * queries can't exercise: watermark advancement between micro-batches,
  * late-data dropping, and state carried across batches (the pyPiper
  * node-state analog). MemoryStream gives deterministic batch boundaries. */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(60000L * min)

  test("watermark drops late rows across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      in.addData((ts(5), 1L), (ts(7), 2L)) // window [0,10)
      q.processAllAvailable()
      in.addData((ts(35), 3L)) // watermark -> 25, closes [0,10)
      q.processAllAvailable()
      in.addData((ts(8), 9L)) // LATE: before watermark, must be dropped
      q.processAllAvailable()
      in.addData((ts(60), 4L)) // watermark -> 50, closes [30,40)
      q.processAllAvailable()
      val rows = spark.table("wm_test").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1))).toMap
      assert(rows(0L) == 2L, "window [0,10) counts only the on-time rows")
      assert(rows(30L) == 1L, "late row joined no window")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val out = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) { (k, rows, st) =>
        val s0 = st.getOption.getOrElse(UserState(0, 0, 0))
        val s = rows.foldLeft(s0)((a, r) =>
          UserState(a.n + 1, a.sumMicros + Streaming.micros(r._2), 0))
        st.update(s)
        Iterator((k, s.n, s.sumMicros / 1e6))
      }.toDF("k", "n", "sum")
    val q = out.writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try {
      in.addData((1L, 1.5), (1L, 2.25), (2L, 10.0))
      q.processAllAvailable()
      in.addData((1L, 0.25))
      q.processAllAvailable()
      // last snapshot per key wins
      val last = spark.table("state_test").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) =>
          k -> rs.maxBy(_.getLong(1))
        }
      assert(last(1L).getLong(1) == 3 && last(1L).getDouble(2) == 4.0)
      assert(last(2L).getLong(1) == 1 && last(2L).getDouble(2) == 10.0)
    } finally q.stop()
  }

  test("session windows merge across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "u")
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("u"))
      .agg(count(lit(1)).as("n"))
      .select(col("u"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      in.addData((ts(0), 1L), (ts(5), 1L)) // one session...
      q.processAllAvailable()
      in.addData((ts(12), 1L)) // ...extended by batch 2 (gap < 10min)
      q.processAllAvailable()
      in.addData((ts(60), 1L)) // closes the merged session
      q.processAllAvailable()
      val sessions = spark.table("sess_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(sessions.contains((1L, 3L)),
        s"merged 3-event session expected, got ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
    val q = out.writeStream.format("memory").queryName("ddww_test")
      .outputMode("append").start()
    try {
      in.addData((ts(0), 1L), (ts(1), 1L), (ts(2), 2L)) // dup 1 dropped
      q.processAllAvailable()
      in.addData((ts(5), 1L)) // still within watermark window -> dropped
      q.processAllAvailable()
      in.addData((ts(60), 3L)) // advances watermark far past key 1's state
      q.processAllAvailable()
      in.addData((ts(61), 1L)) // state expired -> key 1 re-emitted
      q.processAllAvailable()
      val ks = spark.table("ddww_test").collect().map(_.getLong(0)).toSeq
      assert(ks.count(_ == 1L) == 2, s"expected re-emit after expiry: $ks")
      assert(ks.count(_ == 2L) == 1 && ks.count(_ == 3L) == 1)
    } finally q.stop()
  }

  test("stream-stream interval join buffers state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "user").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "10 minutes")
    // buy attributed to a click by the same user within the prior 30 min
    val joined = c.join(b,
      col("user") === col("b_user") &&
        col("b_ts") >= col("c_ts") && col("b_ts") <= col("c_ts") + expr("interval 30 minutes"))
      .select(col("user"), col("c_ts"), col("b_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      // NB: events start at t=60min, not 0 — a row at exactly epoch 0
      // equals the INITIAL watermark and is filtered as late before the
      // join ever sees it (found the hard way; worth knowing)
      clicks.addData((ts(60), 1L), (ts(65), 2L))
      q.processAllAvailable() // no buys yet — clicks must be BUFFERED
      buys.addData((ts(80), 1L)) // matches click@60 from an earlier batch
      q.processAllAvailable()
      buys.addData((ts(110), 2L)) // outside the 30-min window of click@65
      q.processAllAvailable()
      val rows = spark.table("ssj_test").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
          r.getTimestamp(2).getTime / 60000))
      assert(rows.toSeq == Seq((1L, 60L, 80L)),
        s"expected exactly the in-window cross-batch match: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits null-extended rows only on eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "user").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      col("user") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") <= col("c_ts") + expr("interval 30 minutes"),
      "leftOuter")
      .select(col("user"), col("b_user"))
    val q = joined.writeStream.format("memory").queryName("ssjo_test")
      .outputMode("append").start()
    try {
      clicks.addData((ts(60), 1L), (ts(65), 2L))
      buys.addData((ts(80), 1L)) // matches click@60
      q.processAllAvailable()
      val early = spark.table("ssjo_test").collect()
      // user 2 is unmatched but NOT yet evictable — must not be emitted
      assert(early.map(_.getLong(0)).toSet == Set(1L),
        s"premature outer emission: ${early.mkString(",")}")
      // advance BOTH watermarks (global = min) far past click@65's window
      clicks.addData((ts(300), 9L))
      buys.addData((ts(300), 9L))
      q.processAllAvailable()
      val rows = spark.table("ssjo_test").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      // click@65/user2: no purchase in window -> null-extended on eviction
      assert(rows.contains((2L, -1L)), s"missing outer row: ${rows.mkString(",")}")
      assert(rows.contains((1L, 1L)))
    } finally q.stop()
  }

  test("file-source multi-batch: per-key snapshots fold to the batch answer") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout => GST, OutputMode => OM, Trigger}
    import spark.implicits._
    // stage the sf0.001 events as TWO parquet files and force one file
    // per micro-batch — the real file-source analog of the MemoryStream
    // tests, exercising the struct-max last-snapshot fold the judged
    // stateful queries rely on for multi-batch inputs
    val staged = tempDir("mb_test")
    val src = Tables(spark, sf).events
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"))
    src.filter(col("user_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(staged.toString)
    src.filter(col("user_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(staged.toString)
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged.toString)
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserSnapshot](
        OM.Update(), GST.NoTimeout()) { (user, rows, state) =>
        val s0 = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
        val s = rows.foldLeft(s0) { (acc, r) =>
          UserState(acc.n + 1, acc.sumMicros + Streaming.micros(r._2),
            math.max(acc.maxTsUs, r._3))
        }
        state.update(s)
        Iterator(UserSnapshot(user, s.n, s.sumMicros / 1e6, s.maxTsUs))
      }.toDF()
    val q = stream.writeStream.format("memory").queryName("mb_test")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // ≥2 batches ran (two files, one per trigger)
    val folded = spark.table("mb_test")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value"), col("max_ts_us")))
        .as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.max_ts_us"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = src.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max(col("ts_us")).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(folded == batch, "struct-max fold must equal the batch aggregate")
  }

  test("stream dedup thins the stream BEFORE the final distinct") {
    // q_stream_dedup's sink folds through .distinct() for multi-batch
    // robustness, which would also mask a dropDuplicatesWithinWatermark
    // that degraded to identity — the oracle can no longer tell. This
    // pins the operator itself: the pre-distinct emission must equal the
    // distinct key count, not the raw event count. Runs at sf0.01 (the
    // correctness-gate scale) because sf0.001 has one event per key and
    // nothing to thin.
    val dir = "/root/testdata/sf0.01"
    val out = graft.streaming.EventsStream.read(spark, dir)
      .withWatermark("ts", "60 seconds")
      .select(col("ts"), (col("event_id") % 1000).as("k"))
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
    val emitted = graft.streaming.EventsStream.runToTable(spark, out, "append")
      .count()
    val raw = spark.read.parquet(s"$dir/events.parquet").count()
    val distinctKeys = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id % 1000 AS k").distinct().count()
    assert(raw > distinctKeys, "fixture must contain duplicate keys")
    assert(emitted < raw,
      s"dedup emitted $emitted of $raw raw rows — operator degraded to identity")
    assert(emitted == distinctKeys,
      s"expected $distinctKeys deduped keys from the single AvailableNow batch, got $emitted")
  }

  test("fixed-point accumulator is exact and order-independent") {
    val vs = Seq(0.1, 0.2, 0.3, 1e-6, 123456.789123)
    val a = vs.map(Streaming.micros).sum
    val b = vs.reverse.map(Streaming.micros).sum
    assert(a == b && a == 123457189123L + 200001L)
  }

  /** Runs `body`, which runs one stream query, and returns every
    * stateful operator's `numShufflePartitions` from its progress events.
    * Events reach listeners in order, so all progress is in once the
    * termination event arrives. */
  private def stateWidthsOf[A](body: => A): (A, List[Long]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(s => widths.add(s.numShufflePartitions))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    spark.streams.addListener(listener)
    val out =
      try {
        val out = body
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "no termination event")
        out
      } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    (out, widths.asScala.toList)
  }

  test("state-partition knob scopes to the backfill and restores the session conf") {
    val before = spark.conf.getAll
    val df = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("n"))
    val width = graft.streaming.EventsStream.stateWidth(spark, df)
    val (out, widths) = stateWidthsOf {
      graft.streaming.EventsStream.runToTable(spark, df, "append")
    }
    assert(widths.nonEmpty && widths.forall(_ == width),
      s"state operators ran at $widths shuffle partitions, not the derived $width")
    // the session's own conf is untouched after the backfill, and the
    // session still answers batch queries under it
    assert(spark.conf.getAll == before,
      s"session conf changed: ${spark.conf.getAll.toSet diff before.toSet}")
    assert(out.count() > 0)
  }

  test("state width: AQE's coalescing target over the source bytes") {
    import graft.streaming.EventsStream.stateWidth
    val mb = 1L << 20
    val (adv, min) = (64 * mb, mb) // Spark's defaults for the two AQE sizes
    assert(stateWidth(0L, 4, 4, adv, min) == 1)
    // the sf0.1 events file, at 4 and at 32 cores
    assert(stateWidth(2045762L, 4, 4, adv, min) == 2)
    assert(stateWidth(2045762L, 32, 32, adv, min) == 2)
    assert(stateWidth(4 * mb, 4, 4, adv, min) == 4)
    assert(stateWidth(200 * mb, 4, 200, adv, min) == 4)
    assert(stateWidth(100L << 40, 32, 200, adv, min) == 200)
  }

  test("each stateful operator runs at the width derived from its source bytes") {
    // half the events file as AQE's minimum partition size: one events
    // stream then derives 2 stores and a stream-stream join (two reads of
    // the file) derives 4, so the width follows the bytes, not a constant
    val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(s"$sf/events.parquet"))
    val minSize = bytes / 2
    val conf = spark.sessionState.conf
    def expected(leaves: Int) = graft.streaming.EventsStream.stateWidth(
      leaves * bytes, spark.sparkContext.defaultParallelism,
      conf.defaultNumShufflePartitions,
      conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      minSize)
    assert(expected(1) == 2 && expected(2) == 4)
    Graft.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> minSize.toString) {
      Seq(Streaming.qStreamTumbling -> 1, Streaming.qStreamJoin -> 2).foreach {
        case (q, leaves) =>
          val (_, widths) = stateWidthsOf(q.run(spark, sf).collect())
          assert(widths.nonEmpty && widths.forall(_ == expected(leaves)),
            s"${q.name}: state operators ran at $widths, not ${expected(leaves)}")
      }
    }
  }

  test("every backfill stream returns the same rows at the derived and the full width") {
    // sf0.001 derives one store per operator; a 1-byte minimum partition
    // size makes the rule choose the session's full shuffle width
    val full = Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")
    val probe = graft.streaming.EventsStream.read(spark, sf)
    assert(graft.streaming.EventsStream.stateWidth(spark, probe) == 1)
    Graft.withConf(spark, full: _*) {
      assert(graft.streaming.EventsStream.stateWidth(spark, probe) ==
        spark.sessionState.conf.defaultNumShufflePartitions)
    }
    val streams = graft.queries.Registry.all.filter(_.name.startsWith("q_stream_"))
    assert(streams.size == 13)
    streams.foreach { q =>
      def rows = q.run(spark, sf).collect().map(_.toString).sorted.toSeq
      val derived = rows
      val wide = Graft.withConf(spark, full: _*)(rows)
      assert(derived.nonEmpty && derived == wide,
        s"${q.name}: rows differ between the derived and the full state width")
    }
  }

  test("readTable keeps apart sf dirs whose paths share a String.hashCode") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_links_")
    val (a, b) = (root.resolve("Aa"), root.resolve("BB"))
    assert(a.toString.hashCode == b.toString.hashCode)
    writeParquetFile(spark.range(3).toDF("id"), a.resolve("t.parquet"))
    writeParquetFile(spark.range(5).toDF("id"), b.resolve("t.parquet"))
    // build the stream over Aa, then read BB before Aa's stream runs
    val overA = graft.streaming.EventsStream.readTable(spark, a.toString, "t.parquet")
    graft.streaming.EventsStream.readTable(spark, b.toString, "t.parquet")
    val n = graft.streaming.EventsStream.runToTable(spark,
      overA.agg(count(lit(1)).as("n")), "complete").head().getLong(0)
    assert(n == 3, s"the stream over Aa read $n rows, not its own 3")
    graft.Staging.deleteRecursively(root)
  }

  test("readTable reads the schema again after the file is rewritten in place") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_schema_")
    val file = dir.resolve("t.parquet")
    writeParquetFile(spark.range(3).toDF("id"), file)
    assert(graft.streaming.EventsStream.readTable(spark, dir.toString, "t.parquet")
      .columns.toSeq == Seq("id"))
    writeParquetFile(spark.range(3).toDF("id").withColumn("extra", col("id") * 2), file)
    assert(graft.streaming.EventsStream.readTable(spark, dir.toString, "t.parquet")
      .columns.toSeq == Seq("id", "extra"))
    graft.Staging.deleteRecursively(dir)
  }

  test("readTable reads the schema again after a part of a directory table is rewritten in place") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_dirtable_")
    val table = dir.resolve("t.parquet") // a directory of parts, as ScaleGen writes
    spark.range(3).toDF("id").coalesce(1).write.parquet(table.toString)
    def read = graft.streaming.EventsStream.readTable(spark, dir.toString, "t.parquet")
    assert(read.columns.toSeq == Seq("id"))
    val part = Files.list(table).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val stamp = Files.getLastModifiedTime(table)
    val wider = Files.createTempDirectory("graft_pq_")
    writeParquetFile(spark.range(3).toDF("id").withColumn("extra", col("id") * 2),
      wider.resolve("p.parquet"))
    // same name, new bytes: the directory's own size and mtime stay put
    Files.write(part, Files.readAllBytes(wider.resolve("p.parquet")))
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    Files.setLastModifiedTime(table, stamp)
    val again = read
    assert(again.columns.toSeq == Seq("id", "extra"),
      "a part rewritten in place kept the old schema")
    val total = graft.streaming.EventsStream.runToTable(spark,
      again.agg(sum("extra").as("s")), "complete").head().getLong(0)
    assert(total == 6L)
    graft.Staging.deleteRecursively(wider)
    graft.Staging.deleteRecursively(dir)
  }

  /** The (root path, schema) of every runAggregated partials scan in `df`. */
  private def partialScans(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, org.apache.spark.sql.types.StructType)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          .filter(_.contains("graft_stream_agg_")).map(_ -> l.schema)
        case _ => Nil
      }
    }.flatten
  }

  test("runAggregated reads its partials with the schema inference gives them") {
    import org.apache.spark.sql.types._
    val stream = graft.streaming.EventsStream.readTable(spark, sf, "nation.parquet")
    // non-null counts, an array of structs and a map: every nullability
    // a parquet read turns on
    val out = graft.streaming.EventsStream.runAggregated(spark, stream, "append") {
      _.groupBy("n_regionkey").agg(count(lit(1)).as("n"),
        collect_list(struct(col("n_nationkey"), lit(1).as("one"))).as("l"),
        map(lit("n"), count(lit(1))).as("m"))
    }
    val Seq((root, schema)) = partialScans(out)
    assert(schema == spark.read.parquet(root).schema)
    assert(out.orderBy("n_regionkey").collect().toSeq ==
      spark.read.parquet(root).orderBy("n_regionkey").collect().toSeq)
    assert(out.agg(sum("n")).head().getLong(0) == 25L)
    // a stream that runs no batch yields an empty result of that schema
    val empty = java.nio.file.Files.createTempDirectory("graft_empty_src_")
    val none = graft.streaming.EventsStream.runAggregated(spark,
      spark.readStream.schema(new StructType().add("k", LongType))
        .parquet(empty.toString), "append")(_.groupBy("k").agg(count(lit(1)).as("n")))
    assert(none.count() == 0L)
    assert(none.schema == new StructType().add("k", LongType).add("n", LongType))
    graft.Staging.deleteRecursively(empty)
  }

  test("the six runAggregated queries read partials with the schema inference gives them") {
    Seq("q_stream_session", "q_stream_stateful", "q_stream_join",
        "q_stream_join_outer", "q_stream_sketch", "q_stream_ivf_ingest").foreach { name =>
      val q = graft.queries.Registry.all.find(_.name == name).get
      val df = q.run(spark, sf)
      val scans = partialScans(df)
      assert(scans.nonEmpty, s"$name: no runAggregated partials in its plan")
      scans.foreach { case (root, schema) =>
        assert(schema == spark.read.parquet(root).schema, s"$name: $root")
      }
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("streaming sessionization equals the batch twin on the watermark-closed domain") {
    // q_stream_session and q_win_sessionize are documented as the SAME
    // operator (session_window, 6 h gap) run live vs as a backfill; this
    // pins the non-drift claim mechanically. The streaming run's append
    // mode emits only sessions the watermark closed (end = last event +
    // gap <= max ts - delay), so the batch side applies that exact
    // predicate — the shared domain, not a weakening: on it the two
    // rollups must agree row-for-row.
    val events = Tables(spark, sf).events
    // Spark tracks the watermark at MILLISECOND precision (max event
    // time floored to ms, minus the delay) — a session ending inside
    // the sub-ms remainder stays open in the stream, so the batch twin
    // must apply the floored horizon, not the exact-µs one
    val horizonUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = horizonUs / 1000L * 1000L - 60000000L
    // The eviction filter runs DRIVER-SIDE over the collected sessions,
    // deliberately: `filter(session_window.end <= wm)` in-plan is a
    // predicate on a GROUP KEY, which Catalyst pushes below the
    // session-merge — partial sessions whose end exceeds the horizon are
    // dropped BEFORE merging, manufacturing a shorter "closed" ghost of
    // a genuinely open session (observed here: a 6-event open session
    // reappearing as a 5-event closed one). Session windows are the one
    // group key for which that standard rewrite is unsound.
    val sess = events
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.end")).as("end_us"),
        col("n")).collect()
    val batch = sess.filter(_.getLong(1) <= wmUs)
      .groupBy(_.getLong(0)).view
      .mapValues { rs =>
        val ns = rs.map(_.getLong(2))
        (ns.length.toLong, ns.sum, ns.max)
      }.toMap
    val streamed = Streaming.qStreamSession.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch sessionization drifted: stream=$streamed batch=$batch")
  }

  test("streaming tumbling windows equal the date_trunc batch twin") {
    val events = Tables(spark, sf).events
    val horizonUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = horizonUs / 1000L * 1000L - 60000000L // ms-floored watermark
    val batch = events
      .groupBy(date_trunc("day", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .filter(unix_micros(col("w_start")) + 86400000000L <= wmUs)
      .orderBy("w_start", "event_type").collect().toSeq
    val streamed = Streaming.qStreamTumbling.run(spark, sf).collect().toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch tumbling drifted: stream=$streamed batch=$batch")
  }

  test("streaming snapshot dedup equals the batch twin (replays dead, news admitted once)") {
    // the batch formulation of q_stream_dedup_snapshot's semantics:
    // admitted = distinct (new ∪ replays) minus the base snapshot — the
    // bloom split (probe-negative bypass ∪ probe-positive anti-join)
    // must be invisible in the result, whatever the sketch's false
    // positives did to the routing
    val events = Tables(spark, sf).events
    val scr = graft.queries.Scramble(col("event_id"))
    val base = events.filter(scr % 4 =!= 0).select("event_id").distinct()
    val newSlice = events.filter(scr % 4 === 0)
    val stream = newSlice
      .unionByName(events.filter(scr % 4 =!= 0 && scr % 9 === 1))
      .unionByName(newSlice.filter(scr % 9 === 1))
      .select("event_id", "event_type")
    val batch = stream.dropDuplicates("event_id", "event_type")
      .join(base, Seq("event_id"), "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_accepted"), sum(col("event_id")).as("sum_ids"))
      .orderBy("event_type").collect().toSeq
    val streamed = Streaming.qStreamDedupSnapshot.run(spark, sf).collect().toSeq
    assert(batch.nonEmpty && batch.map(_.getLong(1)).sum > 0)
    assert(streamed == batch,
      s"stream/batch snapshot dedup drifted: stream=$streamed batch=$batch")
  }

  test("memory-sink contract: unbounded emissions are rejected before start") {
    // the driver-safety invariant, machine-checked: runToTable's memory
    // sink may only receive streams whose plan bounds emission by groups
    // (aggregation / deduplication). A raw projection emits O(input rows)
    // and must throw — not silently buffer the stream in driver memory.
    val raw = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .select(col("event_id"), col("value"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EventsStream.runToTable(spark, raw, "append")
    }
    assert(e.getMessage.contains("runAggregated"))
    // a STATIC subtree's aggregate must not satisfy the gate: the stream
    // side of this join still emits O(input rows)
    val dimAgg = Tables(spark, sf).customer
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("dim_n"))
    val enriched = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .join(broadcast(dimAgg), col("user_id") === col("c_custkey"))
    assert(!graft.streaming.EventsStream.hasBoundedEmission(enriched),
      "static-side aggregate must not count as bounded stream emission")
    // and every judged runToTable stream passes the same structural gate:
    // aggregations and within-watermark dedup are bounded by construction
    val deduped = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .select(col("ts"), (col("event_id") % 10).as("k"))
      .dropDuplicatesWithinWatermark("k")
    assert(graft.streaming.EventsStream.hasBoundedEmission(deduped))
    // a fan-out ABOVE the bounding aggregate re-expands cardinality to
    // O(rows): the root-down walk must reject it even though a streaming
    // Aggregate exists in the tree (an existence check would pass it)
    val reExpanded = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(collect_list(col("event_id")).as("ids"))
      .select(col("event_type"), explode(col("ids")).as("event_id"))
    assert(!graft.streaming.EventsStream.hasBoundedEmission(reExpanded),
      "explode above the streaming aggregate re-expands emission to " +
        "O(rows) and must fail the root-down gate")
    // the converse: enriching an ALREADY-AGGREGATED stream against a
    // static dimension emits O(groups) and must pass — the Join arm
    // recurses instead of failing outright
    val boundedEnrich = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(dimAgg), col("user_id") === col("c_custkey"))
    assert(graft.streaming.EventsStream.hasBoundedEmission(boundedEnrich),
      "static enrich of a bounded stream stays O(groups) and must pass")
    // but a CONDITIONLESS join above the bound is groups x static-rows —
    // the Join arm must require a condition, not just bounded children
    val crossBlowup = graft.streaming.EventsStream.read(spark, sf)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(Tables(spark, sf).customer)
    assert(!graft.streaming.EventsStream.hasBoundedEmission(crossBlowup),
      "cross join above the bound multiplies emission by the static " +
        "table and must fail the gate")
  }

  test("AvailableNow resume from a durable checkpoint processes new files only") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // the production restart contract: a durable checkpoint remembers
    // which source files are committed, so a later run (new deployment,
    // nightly backfill increment) processes ONLY newly-arrived files —
    // no reprocessing, no duplicates in the sink
    val root = tempDir("resume")
    val src = Files.createDirectory(root.resolve("src"))
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    val events = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), col("value"))
    val sch = events.schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src.toString)
        .select("event_id")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
    }
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src.toString)
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src.toString)
    runOnce()
    val rows = spark.read.parquet(out)
    val total = events.count()
    assert(afterFirst == events.filter(col("event_id") % 2 === 0).count())
    assert(rows.count() == total, "resume must process exactly the new file")
    val dups = rows.groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dups == 0, "no event may be processed twice across restarts")
  }

  test("stream-maintained HLL sketches equal the batch-direct estimates") {
    import org.apache.spark.sql.functions._
    // the property that makes live sketch maintenance correct: unioning
    // per-batch partials equals sketching the whole table at once, for
    // any batching and with duplicates absorbed (HLL is idempotent);
    // asserted on the stream's PARTIALS directly (the judged query
    // output since r12 carries the exact count + bound boolean instead
    // of the raw estimate)
    val partials = graft.queries.Streaming.streamSketchPartials(spark, sf)
    val streamed = partials.groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val batch = graft.Tables(spark, sf).events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(streamed.keySet == batch.keySet,
      s"scopes: ${streamed.keySet} vs days ${batch.keySet}")
    batch.foreach { case (day, est) =>
      assert(streamed(day) == est, s"day $day: stream ${streamed(day)} != $est")
    }
    // and the judged rows must carry the bound as TRUE everywhere
    val judged = graft.queries.Streaming.qStreamSketch.run(spark, sf).collect()
    assert(judged.exists(_.getString(0) == "TOTAL") &&
      judged.forall(_.getAs[Boolean]("est_within_8pct")))
  }

  test("a repeated stream run reuses its generated classes") {
    // every stream runs in a cloned session; with artifact isolation on
    // (Spark's default) each run's tasks get a fresh executor class
    // loader, which is half of the Janino cache key, so a second run
    // recompiled every executor-side class of the first. Graft.builder
    // turns isolation off; this pins that the second run compiles none.
    Seq(Streaming.qStreamTumbling, Streaming.qStreamDedup).foreach { q =>
      val first = q.run(spark, sf).collect().toSeq
      val c0 = Forensics.codegenCompileCount
      val second = q.run(spark, sf).collect().toSeq
      val compiled = Forensics.codegenCompileCount - c0
      assert(c0 >= 0 && compiled == 0,
        s"${q.name}: the second run compiled $compiled generated classes")
      assert(first.nonEmpty && second == first,
        s"${q.name}: the second run returned different rows")
    }
  }

  test("runToTable leaves no sink view behind and its frame still collects") {
    def sinkViews: Seq[String] = spark.catalog.listTables().collect().toSeq
      .map(_.name).filter(_.startsWith("graft_stream_sink_"))
    val out = graft.streaming.EventsStream.runToTable(spark,
      graft.streaming.EventsStream.read(spark, sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      "complete")
    assert(sinkViews.isEmpty, s"sink views left registered: $sinkViews")
    // the view is gone, but the returned frame was analyzed while it
    // existed and still reads the sink's rows
    val batch = Tables(spark, sf).events
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty && streamed == batch,
      s"stream/batch counts drifted: stream=$streamed batch=$batch")
    assert(out.filter(col("n") > 0).count() == batch.size)
  }

  test("a stream run forks no process from its checkpoint") {
    // Hadoop's local filesystem, without libhadoop, forks chmod for every
    // file it creates and readlink for every FileContext rename; the
    // backfill checkpoints go through LocalCheckpointFiles, which does
    // neither. Spark's ArtifactManager may also `rm -rf` the artifact dir
    // of an earlier, garbage-collected session from a Cleaner thread
    // while the run is recorded; that fork is not the run's.
    def ofRun(forks: Seq[Forensics.Fork]): Seq[Forensics.Fork] =
      forks.filterNot(_.frames.exists(_.contains(".sql.artifact.ArtifactManager")))
    def describe(forks: Seq[Forensics.Fork]): String =
      forks.groupBy(_.command.takeWhile(_ != ' '))
        .map { case (c, fs) => s"${fs.size} x $c" }.mkString(", ")
    Seq(Streaming.qStreamTumbling, Streaming.qStreamDedup).foreach { q =>
      q.run(spark, sf).collect()
      val (rows, forks) = Forensics.forksDuring(q.run(spark, sf).collect())
      assert(rows.nonEmpty)
      assert(ofRun(forks).isEmpty, s"${q.name} forked ${describe(ofRun(forks))}")
    }
    // the sessions go through runAggregated, whose parquet partials are
    // written by Hadoop's local filesystem and still fork: count only the
    // forks made for the checkpoint and its state stores
    val q = Streaming.qStreamSession
    q.run(spark, sf).collect()
    val (rows, forks) = Forensics.forksDuring(q.run(spark, sf).collect())
    val checkpoint = forks.filter(_.frames.exists(f =>
      f.contains(".execution.streaming.checkpointing.") ||
        f.contains(".execution.streaming.state.")))
    assert(rows.nonEmpty)
    assert(checkpoint.isEmpty, s"${q.name} forked ${describe(checkpoint)}")
  }
}
