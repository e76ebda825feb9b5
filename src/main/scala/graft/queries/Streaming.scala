package graft.queries

import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured-Streaming operator catalog over `events` (SURVEY.md §7
  * Phase 4): tumbling / sliding / session event-time windows with
  * watermarks, streaming dedup, and arbitrary per-key state — the
  * faithful analog of pyPiper's mutable per-node state (`self.*` across
  * `run()` calls), which is the one genuinely stateful thing the
  * reference can do.
  *
  * Oracle parity: append-mode emission is governed by the watermark
  * (window end ≤ max event time − delay once AvailableNow's final no-data
  * batch advances it), so each oracle SQL applies the identical eviction
  * predicate — the watermark rule is *part of the tested semantics*, not
  * noise to avoid. Spark tracks event-time stats at MILLISECOND
  * precision, so every oracle watermark floors the max event time to ms
  * (`// 1000 * 1000`) before subtracting the delay: a window ending
  * inside the sub-ms remainder is still open in the stream, and the
  * exact-µs horizon would evict it one row too early (found by the
  * StreamingSpec batch-twin equality case, which hits the boundary at
  * sf0.001).
  */
object Streaming {

  private val WM = "60 seconds" // watermark delay

  /** Tumbling 1-day event-time windows per event_type, append mode. */
  val qStreamTumbling: QueryDef = QueryDef.oracle(
    "q_stream_tumbling",
    """SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP) AS w_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |HAVING epoch_us(CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP)) + 86400000000
      |       <= (SELECT MAX(epoch_us(ts)) // 1000 * 1000 - 60000000 FROM events)
      |ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    val out = EventsStream.read(spark, dir)
      .withWatermark("ts", WM)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
    EventsStream.runToTable(spark, out, "append")
      .orderBy("w_start", "event_type")
  }

  /** Sliding windows (1 day, sliding 6 h): each event lands in 4 windows.
    * Oracle mirrors via an explicit 0..3 bucket-shift unnest. */
  val qStreamSliding: QueryDef = QueryDef.oracle(
    "q_stream_sliding",
    """SELECT w_start, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS TIMESTAMP)
      |           - k * INTERVAL 6 HOUR AS w_start, value
      |  FROM events, unnest([0, 1, 2, 3]) AS t(k))
      |GROUP BY 1
      |HAVING epoch_us(w_start) + 86400000000
      |       <= (SELECT MAX(epoch_us(ts)) // 1000 * 1000 - 60000000 FROM events)
      |ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val out = EventsStream.read(spark, dir)
      .withWatermark("ts", WM)
      .groupBy(window(col("ts"), "1 day", "6 hours"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))
    EventsStream.runToTable(spark, out, "append").orderBy("w_start")
  }

  /** Session windows (6 h inactivity gap) per user, rolled up to per-user
    * session stats — the rollup rides the stream's sink path
    * (`foreachBatch` partial aggregation; per-session rows never land in
    * driver memory, see EventsStream.runAggregated). Oracle =
    * gaps-and-islands sessionization with the same watermark eviction
    * (session end = last event + gap). */
  val qStreamSession: QueryDef = QueryDef.oracle(
    "q_stream_session",
    """WITH sessions AS (
      |  SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_last, COUNT(*) AS n
      |  FROM (
      |    SELECT user_id, ts, sid FROM (
      |      SELECT user_id, ts, event_id,
      |        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM (
      |        SELECT user_id, ts, event_id,
      |          CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                 OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                    >= INTERVAL 6 HOUR
      |               THEN 1 ELSE 0 END AS is_new
      |        FROM events)))
      |  GROUP BY user_id, sid)
      |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
      |  MAX(n) AS max_session_events
      |FROM sessions
      |WHERE epoch_us(s_last) + 21600000000
      |      <= (SELECT MAX(epoch_us(ts)) // 1000 * 1000 - 60000000 FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val sessions = EventsStream.read(spark, dir)
      .withWatermark("ts", WM)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    // append mode emits each closed session exactly once, so per-batch
    // partials (count/sum/max per user) combine exactly in the final fold
    val partials = EventsStream.runAggregated(spark, sessions, "append") {
      b => b.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
          max(col("n")).as("max_session_events"))
    }
    partials.groupBy("user_id")
      .agg(sum(col("n_sessions")).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("max_session_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** Streaming exact dedup, state-bounded: first-seen wins per key
    * (event_id % 1000) via `dropDuplicatesWithinWatermark` — per-key
    * state is DROPPED once the watermark passes it, so state size tracks
    * the watermark horizon, not the full key history (plain
    * `dropDuplicates` on a stream retains every key forever — the 100 TB
    * failure mode). The state bound is also a semantic bound: a key
    * recurring AFTER its state was evicted is emitted again (that is the
    * contract of within-watermark dedup), so the sink is folded through a
    * final `distinct` — multi-batch-robust like the other snapshot folds
    * here, and exactly what a production consumer of a
    * within-watermark-deduped stream does when it needs global
    * uniqueness (the fold is over the already-thinned stream, not the
    * raw input). */
  val qStreamDedup: QueryDef = QueryDef.oracle(
    "q_stream_dedup",
    """SELECT DISTINCT event_id % 1000 AS k FROM events ORDER BY k""".stripMargin,
  ) { (spark, dir) =>
    val out = EventsStream.read(spark, dir)
      .withWatermark("ts", WM)
      .select(col("ts"), (col("event_id") % 1000).as("k"))
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
    EventsStream.runToTable(spark, out, "append").distinct().orderBy("k")
  }

  /** Arbitrary stateful processing via flatMapGroupsWithState — the
    * pyPiper `self.*`-across-`run()` analog: per-user mutable state
    * (count, exact micro-scaled sum, max event time) updated per record,
    * snapshot emitted per batch. Value sums use exact fixed-point (each
    * double rounded to 1e-6 then summed in Long) so arrival order can
    * never change the result — the property pyPiper loses the moment
    * n_threads > 1. */
  val qStreamStateful: QueryDef = QueryDef.oracle(
    "q_stream_stateful",
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
      |  MAX(epoch_us(ts)) AS max_ts_us
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val out = EventsStream.read(spark, dir)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserSnapshot](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { (user, rows, state) =>
        val s0 = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
        val s = rows.foldLeft(s0) { (acc, r) =>
          UserState(acc.n + 1, acc.sumMicros + Streaming.micros(r._2),
            math.max(acc.maxTsUs, r._3))
        }
        state.update(s)
        Iterator(UserSnapshot(user, s.n, s.sumMicros / 1e6, s.maxTsUs))
      }
      .toDF()
      .select(col("user_id"), col("n_events"), col("sum_value"), col("max_ts_us"))
    lastSnapshotPerKey(spark, out, "user_id",
      Seq("n_events", "sum_value", "max_ts_us"))
  }

  /** Fold an update-mode snapshot stream to the LAST snapshot per key,
    * driver-safe at any key cardinality: update mode emits one snapshot
    * per key per batch; the FIRST column of `snapCols` must be strictly
    * monotone across a key's snapshots (an event count), so the
    * lexicographic struct-max is the latest snapshot. The per-batch max
    * rides the sink path (foreachBatch parquet partials — O(keys) rows
    * per batch on the executors, never the driver), and struct-max is
    * associative, so the final fold over batch partials equals the
    * global last-snapshot fold. Both stateful judged queries share this
    * fold so the monotonicity invariant lives in exactly one place. */
  private def lastSnapshotPerKey(spark: SparkSession, out: DataFrame,
      key: String, snapCols: Seq[String]): DataFrame = {
    val snap = struct(snapCols.map(col): _*)
    def unpack(df: DataFrame) =
      df.select(col(key) +: snapCols.map(c => col(s"s.$c").as(c)): _*)
    val partials = EventsStream.runAggregated(spark, out, "update") { b =>
      unpack(b.groupBy(key).agg(max(snap).as("s")))
    }
    unpack(partials.groupBy(key).agg(max(snap).as("s"))).orderBy(key)
  }

  /** Exact 1e-6 fixed-point of a double (round-half-up, like the decimal
    * cast both engines apply) — order-independent accumulation. */
  def micros(v: Double): Long =
    new java.math.BigDecimal(v).movePointRight(6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  /** Stream-stream interval join: each purchase attributed to every
    * click by the same user within the preceding 30 minutes — two
    * watermarked readStream sides, inner interval join (append emission;
    * the time bound is what lets Spark evict join state at scale),
    * rolled up to per-user-bucket attribution stats. The rollup rides
    * the stream's sink path (`foreachBatch` partial aggregation): the
    * raw attribution pair set — unbounded at 100 TB — never leaves the
    * executors; only 16-bucket partials per batch are sunk. Oracle
    * mirrors with a plain self-join on µs-truncated timestamps
    * (inner-join emission is watermark-independent, so no eviction
    * predicate is needed). */
  val qStreamJoin: QueryDef = QueryDef.oracle(
    "q_stream_join",
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    make_timestamp(epoch_us(ts)) AS ts
      |  FROM events)
      |SELECT c.user_id % 16 AS bucket, COUNT(*) AS n_attr,
      |  CAST(SUM(CAST(p.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_purchase
      |FROM e c JOIN e p
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      |  AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val clicks = EventsStream.read(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", WM)
    val purchases = EventsStream.read(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", WM)
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
      .select((col("c_user") % 16).as("bucket"),
        col("value").cast("decimal(30,6)").as("v"))
    // partials are (count, exact decimal sum) per bucket — commutative,
    // so the final fold over batch partials equals the global aggregate
    val partials = EventsStream.runAggregated(spark, joined, "append") {
      b => b.groupBy("bucket")
        .agg(count(lit(1)).as("n_attr"), sum(col("v")).as("sum_p"))
    }
    partials.groupBy("bucket")
      .agg(sum(col("n_attr")).as("n_attr"),
        sum(col("sum_p")).cast("double").as("sum_purchase"))
      .orderBy("bucket")
  }

  /** Stream-stream LEFT OUTER interval join: every click attributed as
    * in q_stream_join, but clicks with NO purchase in their 30-minute
    * window are ALSO emitted (null-extended) — once the watermark proves
    * no future purchase can match (state eviction is the emission
    * trigger; that is the defining semantics of a streaming outer join).
    * Rollup rides the sink path like q_stream_join. The oracle mirrors
    * both halves: matched pairs unconditionally (inner emission is
    * watermark-independent), unmatched clicks under the exact eviction
    * predicate — c_ts + 30 min < min(max click ts, max purchase ts) −
    * 60 s (the global min-policy watermark after AvailableNow's final
    * no-data batch). */
  val qStreamJoinOuter: QueryDef = QueryDef.oracle(
    "q_stream_join_outer",
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    make_timestamp(epoch_us(ts)) AS ts
      |  FROM events),
      |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT make_timestamp(
      |          epoch_us(LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p)))
      |          // 1000 * 1000) - INTERVAL 60 SECOND AS w),
      |m AS (
      |  SELECT c.user_id, p.value FROM c JOIN p
      |    ON c.user_id = p.user_id
      |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
      |u AS (
      |  SELECT c.user_id FROM c, wm
      |  WHERE c.ts + INTERVAL 30 MINUTE < wm.w
      |    AND NOT EXISTS (SELECT 1 FROM p
      |      WHERE p.user_id = c.user_id
      |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE))
      |SELECT bucket, CAST(SUM(matched) AS BIGINT) AS n_matched,
      |  CAST(SUM(unmatched) AS BIGINT) AS n_unmatched,
      |  CAST(SUM(v) AS DOUBLE) AS sum_purchase
      |FROM (
      |  SELECT user_id % 16 AS bucket, 1 AS matched, 0 AS unmatched,
      |    CAST(value AS DECIMAL(30,6)) AS v FROM m
      |  UNION ALL
      |  SELECT user_id % 16, 0, 1, NULL FROM u)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val clicks = EventsStream.read(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", WM)
    val purchases = EventsStream.read(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", WM)
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("interval 30 minutes"),
      "leftOuter")
      .select((col("c_user") % 16).as("bucket"),
        when(col("p_user").isNull, 0).otherwise(1).as("matched"),
        when(col("p_user").isNull, 1).otherwise(0).as("unmatched"),
        col("value").cast("decimal(30,6)").as("v"))
    val partials = EventsStream.runAggregated(spark, joined, "append") {
      b => b.groupBy("bucket")
        .agg(sum(col("matched")).as("n_matched"),
          sum(col("unmatched")).as("n_unmatched"), sum(col("v")).as("sum_p"))
    }
    partials.groupBy("bucket")
      .agg(sum(col("n_matched")).as("n_matched"),
        sum(col("n_unmatched")).as("n_unmatched"),
        sum(col("sum_p")).cast("double").as("sum_purchase"))
      .orderBy("bucket")
  }

  /** CHAINED stateful operators in one streaming query (Spark ≥3.5
    * headline capability): stream-stream interval join → event-time
    * tumbling window aggregation, both stateful, one query, append mode.
    * The emitted rows are aggregate-sized (daily per-bucket rollups), so
    * this is the in-stream alternative to q_stream_join's foreachBatch
    * partials when the rollup IS windowed. Window emission is governed
    * by the global min-policy watermark (both inputs' max event time −
    * delay after the final no-data batch); the oracle applies the
    * identical eviction predicate on window end. */
  val qStreamJoinWindowed: QueryDef = QueryDef.oracle(
    "q_stream_join_windowed",
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    make_timestamp(epoch_us(ts)) AS ts
      |  FROM events),
      |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT make_timestamp(
      |          epoch_us(LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p)))
      |          // 1000 * 1000) - INTERVAL 60 SECOND AS w),
      |m AS (
      |  SELECT CAST(time_bucket(INTERVAL 1 DAY, c.ts) AS TIMESTAMP) AS w_start,
      |    c.user_id % 16 AS bucket, p.value
      |  FROM c JOIN p
      |    ON c.user_id = p.user_id
      |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      |SELECT w_start, bucket, COUNT(*) AS n_attr,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_purchase
      |FROM m, wm
      |GROUP BY 1, 2
      |HAVING epoch_us(w_start) + 86400000000 <= epoch_us(MIN(wm.w))
      |ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    val clicks = EventsStream.read(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", WM)
    val purchases = EventsStream.read(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", WM)
    val out = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
      .groupBy(window(col("c_ts"), "1 day"), (col("c_user") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_attr"),
        sum(col("value").cast("decimal(30,6)")).cast("double")
          .as("sum_purchase"))
      .select(col("window.start").as("w_start"), col("bucket"),
        col("n_attr"), col("sum_purchase"))
    EventsStream.runToTable(spark, out, "append")
      .orderBy("w_start", "bucket")
  }

  /** Stream-static enrichment join: the event stream joined to the
    * static customer dimension (broadcast — the dim rides to every task,
    * the unbounded side never shuffles, no join state at all), then a
    * watermarked tumbling window per market segment. The 100 TB shape
    * for "enrich a firehose with reference data". */
  val qStreamEnrich: QueryDef = QueryDef.oracle(
    "q_stream_enrich",
    """SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP) AS w_start,
      |  c_mktsegment AS seg, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |HAVING epoch_us(CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP)) + 86400000000
      |       <= (SELECT MAX(epoch_us(ts)) // 1000 * 1000 - 60000000 FROM events)
      |ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    val dim = graft.Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"))
    val out = EventsStream.read(spark, dir)
      .withWatermark("ts", WM)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 day"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("seg"), col("n"),
        col("sum_value"))
    EventsStream.runToTable(spark, out, "append")
      .orderBy("w_start", "seg")
  }

  /** Arbitrary state via `transformWithState` (Spark 4.x API) — the
    * modern successor of flatMapGroupsWithState and SURVEY §2.B's named
    * analog of pyPiper node state: per-user running (count, max) in a
    * named RocksDB-backed ValueState, snapshot emitted per batch. The
    * provider conf is scoped to this query and restored after. */
  val qStreamTws: QueryDef = QueryDef.oracle(
    "q_stream_tws",
    """SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = EventsStream.read(spark, dir)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.UserCountMaxProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "max_value")
      lastSnapshotPerKey(spark, out, "user_id", Seq("n_events", "max_value"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  /** STREAMING incremental dedup against a static snapshot — the
    * round-8 q_dedup_incremental shape where the nightly batch is a
    * STREAM: late replays of already-ingested events plus genuinely new
    * events arrive together, and ingestion must admit each event at
    * most once, without reprocessing the snapshot.
    *
    * Stream construction (deterministic, so the oracle can restate it):
    * the new slice (scramble%4 = 0) ∪ replays of SNAPSHOT events
    * (scramble%4 ≠ 0 ∧ scramble%9 = 1 — duplicates of the base) ∪
    * replays of NEW events (scramble%4 = 0 ∧ scramble%9 = 1 —
    * within-stream duplicates).
    *
    * Scale shape, mirroring the batch twin: the base's event_id set is
    * summarized ONCE into a bloom sketch at query construction (at
    * scale: maintained night-over-night); probe-NEGATIVE stream rows
    * are admitted via the codegen filter alone and NEVER touch a join —
    * only the bloom-positive minority (true base dups + false
    * positives) rides the exact stream-static anti-join against the
    * broadcast base keys, so per-micro-batch join work is proportional
    * to the replay mass, not the stream. Within-stream replays then die
    * in dropDuplicatesWithinWatermark (state = distinct admitted keys
    * inside the watermark, the at-least-once-delivery absorber). The
    * sink rollup is per-type counts + an id-sum pin. */
  val qStreamDedupSnapshot: QueryDef = QueryDef.oracle(
    "q_stream_dedup_snapshot",
    s"""WITH base AS (
      |  SELECT event_id FROM events WHERE ${Scramble.sql("event_id")} % 4 <> 0),
      |stream AS (
      |  SELECT event_id, event_type FROM events
      |  WHERE ${Scramble.sql("event_id")} % 4 = 0
      |  UNION ALL
      |  SELECT event_id, event_type FROM events
      |  WHERE ${Scramble.sql("event_id")} % 4 <> 0
      |    AND ${Scramble.sql("event_id")} % 9 = 1
      |  UNION ALL
      |  SELECT event_id, event_type FROM events
      |  WHERE ${Scramble.sql("event_id")} % 4 = 0
      |    AND ${Scramble.sql("event_id")} % 9 = 1),
      |acc AS (
      |  SELECT DISTINCT event_id, event_type FROM stream
      |  WHERE event_id NOT IN (SELECT event_id FROM base))
      |SELECT event_type, COUNT(*) AS n_accepted,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_ids
      |FROM acc GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    // the static snapshot side (batch): its key set and its bloom sketch
    val baseKeys = graft.Tables(spark, dir).events
      .filter(Scramble(col("event_id")) % 4 =!= 0)
      .select("event_id").distinct()
    val bfBytes = graft.functions.BloomProbe.sketch(baseKeys, col("event_id"))
    val probe =
      graft.functions.BloomProbe.mightContain(bfBytes, col("event_id"))
    val src = EventsStream.read(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    val stream = src.filter(Scramble(col("event_id")) % 4 === 0)
      .unionByName(src.filter(Scramble(col("event_id")) % 4 =!= 0
        && Scramble(col("event_id")) % 9 === 1))
      .unionByName(src.filter(Scramble(col("event_id")) % 4 === 0
        && Scramble(col("event_id")) % 9 === 1))
      .withWatermark("ts", WM)
    // probe-negative rows are admitted scan-side; only bloom-positives
    // pay the exact anti-join (the join side sees replay mass + FPs)
    val admitted = stream.filter(!probe)
      .unionByName(stream.filter(probe)
        .join(broadcast(baseKeys), Seq("event_id"), "left_anti"))
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
    EventsStream.runToTable(spark, admitted, "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_accepted"),
        sum(col("event_id")).as("sum_ids"))
      .orderBy("event_type")
  }

  /** STREAMING sketch maintenance — the live half of q_agg_sketch_union:
    * every micro-batch folds its rows into per-day HLL sketch partials
    * (`foreachBatch` parquet appends — O(days) binary rows per batch,
    * raw events never reach the driver), and the read side merges
    * partials with `hll_union_agg`. The structural win over every other
    * streaming operator here: HLL union is IDEMPOTENT for duplicates
    * and commutative across any batching, so this pipeline needs NO
    * dedup state, NO watermark, and NO eviction semantics — late data
    * and replays are absorbed for free, which is why sketch maintenance
    * is the cheapest always-on distinct-count path a 100 TB event lake
    * has. The raw per-day estimates are deterministic given the sketch
    * library's fixed hash, but that library is Apache DataSketches HLL —
    * DuckDB's approx_count_distinct is a different HLL implementation,
    * so the estimate itself can't hash-match. DRIVER-CHECKED since
    * round 12 via the bound-boolean scheme (q_agg_approx_distinct): the
    * judged row is (scope, exact_users, est_within_8pct) — the exact
    * leg is a batch audit scan of the same events table, there solely
    * so the driver can falsify an out-of-tolerance sketch. The judged
    * bound is 8% = ~5σ of lgK=12's RSE — a brokenness test, never a
    * statistical coin-flip on a fresh corpus (per-day groups are mostly
    * sketch-exact in sparse mode anyway; StreamingSpec pins the
    * operationally-exact property, stream-maintained ≡ batch-direct
    * over the same sketch algebra, via [[streamSketchPartials]]). */
  private[graft] def streamSketchPartials(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val stream = EventsStream.read(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    EventsStream.runAggregated(spark, stream, "append") { b =>
      b.groupBy("day")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
    }
  }

  val qStreamSketch: QueryDef = QueryDef.oracle(
    "q_stream_sketch",
    """SELECT scope, exact_users, TRUE AS est_within_8pct FROM (
      |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
      |    COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY 1
      |  UNION ALL
      |  SELECT 'TOTAL', COUNT(DISTINCT user_id) FROM events)
      |ORDER BY scope""".stripMargin,
  ) { (spark, dir) =>
    val partials = streamSketchPartials(spark, dir)
    val byDay = partials.groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_users"))
      .select(col("day").cast("string").as("scope"), col("est_users"))
    val total = partials
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_users"))
      .select(lit("TOTAL").as("scope"), col("est_users"))
    val est = byDay.unionAll(total)
    val events = graft.Tables(spark, dir).events
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val exactDay = events.groupBy(col("day").cast("string").as("scope"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val exactTotal = events
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .select(lit("TOTAL").as("scope"), col("exact_users"))
    est.join(exactDay.unionAll(exactTotal), "scope")
      .select(col("scope"), col("exact_users"),
        (abs(col("est_users") - col("exact_users"))
          <= col("exact_users") * 0.08).as("est_within_8pct"))
      .orderBy("scope")
  }

  val all: Seq[QueryDef] = Seq(
    qStreamTumbling, qStreamSliding, qStreamSession, qStreamDedup,
    qStreamDedupSnapshot, qStreamStateful, qStreamJoin, qStreamJoinOuter,
    qStreamJoinWindowed, qStreamEnrich, qStreamTws, qStreamSketch)
}

/** Per-user mutable state carried across micro-batches. */
final case class UserState(n: Long, sumMicros: Long, maxTsUs: Long)

final case class UserSnapshot(user_id: Long, n_events: Long,
    sum_value: Double, max_ts_us: Long)
