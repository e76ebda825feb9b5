package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured-Streaming plumbing for the judged streaming queries.
  *
  * The driver contract needs a *batch* DataFrame per query, so each
  * streaming query runs the events parquet through a real
  * `readStream` → transform → sink pipeline under
  * `Trigger.AvailableNow` (processes everything, runs the no-data batch
  * that advances the watermark and flushes evictable state, then stops),
  * and the sink contents are returned. Semantics are identical to a long-
  * running deployment; only the trigger differs — exactly how a 100 TB
  * backfill of a streaming job is run in production.
  *
  * State width. Each stateful operator keeps one state store per shuffle
  * partition (a stream-stream join keeps four), and every store pays a
  * fixed load and commit per micro-batch, so the width of a backfill is
  * sized to its volume, not to the core count: [[runToTable]] and
  * [[runAggregated]] derive it once, before `start()`, by the target-size
  * rule AQE's partition coalescing (Spark's `ShufflePartitionsUtil`)
  * applies to a batch shuffle — see [[stateWidth]]. A stateful stream
  * cannot let AQE coalesce its shuffle, because the width is fixed into
  * the checkpoint at the first batch; these checkpoints are ephemeral,
  * one per run, so choosing the width up front is safe. The volume is
  * the bytes of the stream's source files ([[sourceBytes]]): parquet
  * bytes stand in for the shuffle bytes AQE would have measured.
  */
object EventsStream {

  private val n = new AtomicInteger(0)

  /** The events table as an unbounded source (single-file glob → one
    * micro-batch at test scale; a directory of files at production scale,
    * rate-limited by maxFilesPerTrigger). Nanos→µs as in Tables.events. */
  def read(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTs(readTable(spark, dir, "events.parquet"))

  /** Any corpus parquet table as an unbounded file-source stream — the
    * events machinery generalized, minus the events-specific timestamp
    * normalization. The vector-ingest query streams `embeddings.parquet`
    * through this: at production scale the "table" is the landing
    * directory new embedding batches arrive in, rate-limited by
    * maxFilesPerTrigger.
    *
    * The file source wants a directory of FILES, so the stream reads a
    * link farm staged once per version of the table ([[graft.Staging]]):
    * one symlink for a single-file table, one per part for a
    * Spark-written table (a DIRECTORY of part files, as ScaleGen writes
    * at sf1), because the file source does not recurse into nested
    * directories and a symlinked directory would stream ZERO rows. The
    * links hold no derived data, but the farm's name carries the table's
    * path and version, so no two tables share a farm, a rewritten table
    * gets a fresh one, and a published farm never holds a stale link. */
  private[graft] def readTable(spark: SparkSession, dir: String,
      file: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val path = s"$dir/$file"
    // the batch reader's memo: inferred once per version of the table
    val schema = graft.Tables.parquet(spark, path).schema
    // absolutize BEFORE linking: symlink targets are stored verbatim, so
    // a relative sf dir would make links under /tmp resolve relative to
    // the staging dir and dangle — silently streaming zero rows
    val src = Paths.get(path).toAbsolutePath.normalize
    val staged = graft.Staging.stage(
        s"graft_${file.stripSuffix(".parquet")}_parts", path) { tmp =>
      val parts =
        if (!Files.isDirectory(src)) Seq(src)
        else {
          val ls = Files.list(src)
          try {
            import scala.jdk.CollectionConverters._
            ls.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toList
          } finally ls.close()
        }
      parts.foreach(p => Files.createSymbolicLink(tmp.resolve(p.getFileName.toString), p))
    }
    spark.readStream.schema(schema).parquet(staged)
  }

  /** Run a streaming DataFrame to completion into a memory sink, return
    * the sink contents as a batch DataFrame. ONLY for streams whose
    * emission is already aggregated/bounded — the memory sink lives in
    * driver memory. Unbounded emissions (raw joined pairs, per-entity
    * rows) go through [[runAggregated]] instead. The contract is
    * enforced structurally, not by convention: the plan must carry a
    * bounded-emission operator or the call throws before starting.
    *
    * The memory sink registers its rows as a temp view. The view is
    * dropped once `spark.table` has resolved it (or the run failed), so
    * a long-lived session keeps no view, and no sink rows, per past run.
    * The returned frame is already analyzed and holds the sink itself. */
  def runToTable(spark: SparkSession, df: DataFrame, mode: String): DataFrame = {
    require(hasBoundedEmission(df),
      "runToTable is for aggregated/bounded streams only (the memory sink " +
        "lives in driver memory); this plan has no aggregation/deduplication " +
        "node, so its emission is O(input rows) — use runAggregated instead")
    val name = s"graft_stream_sink_${n.incrementAndGet()}"
    try {
      backfill(spark, df, mode, name)(_.format("memory").queryName(name))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** True iff the stream's emission volume is bounded by GROUPS rather
    * than input rows: walking DOWN from the root, every streaming path
    * must reach a streaming aggregation — O(windows × groups) output —
    * or a streaming deduplication — O(distinct keys) — BEFORE any
    * row-multiplying operator (Generate/Join/Expand) and before the
    * source leaf. Root-down matters: a plan that aggregates and then
    * re-expands (explode over the groups, a subsequent stream join)
    * emits O(rows) again, and a mere existence check anywhere in the
    * tree would wave it through to a driver-memory sink. Static
    * subtrees pass unconditionally: a broadcast-joined dimension bounds
    * nothing but also grows nothing over the stream's lifetime — it is
    * the streaming side's operators that decide. A CONDITIONED Join
    * recurses rather than failing outright: joining an ALREADY-BOUNDED
    * stream with a static dimension on a key (aggregate → enrich) stays
    * bounded, while any join touching a raw streaming side still fails
    * through the streaming child's own walk. A join WITHOUT a condition
    * (cross / ON TRUE) is a hard failure even over bounded children —
    * its emission is the product groups × static rows, the blowup the
    * gate exists to reject. Generate/Expand likewise stay hard failures
    * at any position above the bound: exploding a per-group
    * collect_list re-expands to O(input rows) no matter what bounded it
    * below. */
  private[graft] def hasBoundedEmission(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = p match {
      case q if !q.isStreaming => true
      case _: Aggregate | _: Deduplicate | _: DeduplicateWithinWatermark => true
      case _: Generate | _: Expand => false
      case j: Join =>
        j.condition.isDefined && j.children.forall(bounded)
      case leaf if leaf.children.isEmpty => false // streaming source, unbounded
      case other => other.children.forall(bounded)
    }
    bounded(df.queryExecution.analyzed)
  }

  /** The session confs a backfill of `df` runs under, scoped to the run by
    * [[graft.Graft.withConf]]: its [[stateWidth]], and [[LocalCheckpointFiles]]
    * for its ephemeral checkpoint. */
  private def backfillConf(spark: SparkSession, df: DataFrame): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> stateWidth(spark, df).toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFiles].getName)

  /** State-store width for a backfill of `df`: [[stateWidth]] over its
    * [[sourceBytes]], read from the session's own confs (default
    * parallelism, `spark.sql.shuffle.partitions`, AQE's
    * `advisoryPartitionSizeInBytes` and
    * `coalescePartitions.minPartitionSize`). Scoped to the run by
    * [[graft.Graft.withConf]] (the value is captured into the query's
    * checkpoint at the first batch). */
  private[graft] def stateWidth(spark: SparkSession, df: DataFrame): Int = {
    val conf = spark.sessionState.conf
    stateWidth(sourceBytes(spark, df), spark.sparkContext.defaultParallelism,
      conf.defaultNumShufflePartitions,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }

  /** AQE's coalescing target applied to `bytes` of stream input:
    * `target = max(minPartition, min(advisory, ceil(bytes / parallelism)))`
    * and `width = clamp(ceil(bytes / target), 1, shufflePartitions)`.
    * Parallelism first: a small input still spreads over up to
    * `parallelism` stores once each holds `minPartition` bytes, so a
    * per-row state closure keeps some parallelism; a tiny input gets one
    * store. */
  private[graft] def stateWidth(bytes: Long, parallelism: Int,
      shufflePartitions: Int, advisory: Long, minPartition: Long): Int = {
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val target = math.max(minPartition,
      math.min(advisory, ceilDiv(bytes, parallelism)))
    math.max(1L, math.min(ceilDiv(bytes, target), shufflePartitions.toLong)).toInt
  }

  /** Bytes of the files under each distinct file-source leaf of `df`
    * (each [[readTable]] link dir; one entry per source the query reads,
    * so a stream-stream join over two reads counts both). Measured
    * through Hadoop `FileSystem`, which follows the links. A leaf with no
    * path (a memory or rate source) counts 0. */
  private[graft] def sourceBytes(spark: SparkSession, df: DataFrame): Long = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val hadoop = spark.sessionState.newHadoopConf()
    df.queryExecution.analyzed.collect { case r: StreamingRelation => r }
      .distinct.flatMap(_.dataSource.options.get("path"))
      .map { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(hadoop).getContentSummary(p).getLength
      }.sum
  }

  /** Run `df` to completion under `Trigger.AvailableNow` into the sink
    * `sink` sets up, under its [[backfillConf]], with a checkpoint of its
    * own. The checkpoint of an AvailableNow backfill into an ephemeral
    * sink is itself ephemeral — there is no restart to recover; a
    * production deployment passes its own durable checkpointLocation,
    * never enters this path, and keeps Spark's default checkpoint file
    * manager. So this one is a RAM-backed run directory when the host
    * has room ([[graft.Staging.runDir]]), written through
    * [[LocalCheckpointFiles]], which forks no `chmod` or `readlink` per
    * file. Those forks, not fsync (Hadoop's local filesystem syncs
    * nothing on close), were the per-file cost of a commit (SCALE.md,
    * "Ephemeral checkpoint budget"). It is released as soon as the run
    * ends: RAM-backed checkpoints that linger until JVM exit compete with
    * the page cache and executor memory for the rest of the session (a
    * two-pass bench over 10 streaming queries accumulated enough tmpfs
    * pages to slow the warm pass's shuffle-heavy queries measurably). */
  private def backfill(spark: SparkSession, df: DataFrame, mode: String,
      name: String)(sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    graft.Graft.withConf(spark, backfillConf(spark, df): _*) {
      val ckpt = graft.Staging.runDir(s"graft_ckpt_${name}_", ram = true)
      sink(df.writeStream).outputMode(mode).trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString).start().awaitTermination()
      graft.Staging.release(ckpt)
    }

  /** Run a streaming DataFrame with the rollup INSIDE the stream's sink
    * path: `foreachBatch` partially aggregates every micro-batch with
    * `perBatch` (commutative partials — counts, decimal sums, maxes) and
    * appends only those partial rows to a parquet sink; the caller then
    * combines partials with one small batch aggregation. The raw stream
    * emission NEVER lands in driver memory — per batch the driver sees a
    * plan, not rows, and the sink holds O(groups × batches) partial rows,
    * not O(stream). This is the 100 TB shape for "aggregate an unbounded
    * join/session stream": executors write partials, a final reduce folds
    * them.
    *
    * The partials are read back with the schema `perBatch` gives an
    * empty batch (the file source makes every field nullable, as
    * inference does), not by inference: no footer-reading job per run,
    * and a stream that produces no batches yields an empty result of
    * that schema. The partials' run directory is deleted on JVM exit
    * (consumers read it lazily, so deletion can't happen any earlier
    * than that). */
  def runAggregated(spark: SparkSession, df: DataFrame, mode: String)(
      perBatch: DataFrame => DataFrame): DataFrame = {
    val id = n.incrementAndGet()
    val out = graft.Staging.runDir(s"graft_stream_agg_${id}_", ram = false).toString
    val schema = perBatch(spark.createDataFrame(
      new java.util.ArrayList[Row](), df.schema)).schema
    backfill(spark, df, mode, s"agg_$id")(_.foreachBatch {
      (batch: DataFrame, _: Long) => perBatch(batch).write.mode("append").parquet(out)
    })
    spark.read.schema(schema).parquet(out)
  }
}
