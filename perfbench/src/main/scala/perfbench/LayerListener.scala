package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query layer counters for the traced passes, fed by Spark's two
  * listener buses, plus the job, stage and micro-batch spans.
  *
  * Jobs are attributed through the local properties the harness sets on
  * the client thread (query key and the enclosing phase span); streaming
  * threads inherit them when the stream starts. Stages and tasks follow
  * their job. Micro-batches carry no properties, so they are attributed
  * after the pass, by which query span contains their trigger start.
  * Delivery is asynchronous: read the counters only after [[fence]]. */
final class LayerListener(spark: org.apache.spark.sql.SparkSession, spans: Spans)
    extends SparkListener {
  import LayerListener._

  private val counters = mutable.Map[String, mutable.Map[String, Double]]()
  private val stageQuery = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobs = mutable.Map[Int, Job]()
  private val jobSpans = mutable.Map[Int, Long]()
  // (spanId, stream query id, batch id) of jobs run by a micro-batch
  private val batchJobs = mutable.ArrayBuffer[(Long, String, Long)]()
  private val batches = mutable.ArrayBuffer[Batch]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var cachedBytes = 0L
  // the query of the latest tagged job, in bus order: block updates carry
  // no properties, and arrive on the same queue after the job that caused
  // them
  private var current: String = null
  private var fenceJob = -1
  private var fenceDone = false
  private var streamsStarted = 0L
  private var streamsEnded = 0L

  private def add(key: String, metric: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(key, mutable.Map.empty)
    m(metric) = m.getOrElse(metric, 0.0) + v
  }
  private def max(key: String, metric: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(key, mutable.Map.empty)
    m(metric) = math.max(m.getOrElse(metric, 0.0), v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    if (p.exists(_.getProperty(FenceProp) != null)) fenceJob = e.jobId
    p.flatMap(x => Option(x.getProperty(QueryProp))).foreach { key =>
      val parent = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val batch = for {
        x <- p
        q <- Option(x.getProperty("sql.streaming.queryId"))
        b <- Option(x.getProperty("streaming.sql.batchId"))
      } yield (q, b.toLong)
      val id = spans.newId()
      jobs(e.jobId) = Job(key, id, parent, batch, e.time)
      jobSpans(e.jobId) = id
      e.stageIds.foreach { s => stageQuery(s) = key; stageJob(s) = e.jobId }
      add(key, "scheduler.jobs", 1)
      current = key
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      spans.add(Span(j.spanId, j.parent, "job", s"job ${e.jobId}", j.start, e.time))
      j.batch.foreach { case (q, b) => batchJobs += ((j.spanId, q, b)) }
    }
    if (e.jobId == fenceJob) fenceDone = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for {
      key <- stageQuery.get(info.stageId)
      start <- info.submissionTime
      end <- info.completionTime
    } {
      add(key, "scheduler.stages", 1)
      val parent = stageJob.get(info.stageId).flatMap(jobSpans.get).getOrElse(0L)
      spans.add(Span(spans.newId(), parent, "stage",
        s"stage ${info.stageId}.${info.attemptNumber()}", start, end))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageQuery.get(e.stageId).foreach { key =>
      add(key, "scheduler.tasks", 1)
      val m = e.taskMetrics
      val t = e.taskInfo
      if (m != null) {
        val gettingResult =
          if (t.gettingResultTime > 0) t.finishTime - t.gettingResultTime else 0L
        val delay = (t.finishTime - t.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult
        add(key, "scheduler.delay_s", math.max(0L, delay) / 1e3)
        add(key, "executor.run_s", m.executorRunTime / 1e3)
        add(key, "executor.cpu_s", m.executorCpuTime / 1e9)
        add(key, "executor.deserialize_s", m.executorDeserializeTime / 1e3)
        max(key, "executor.peak_mem_mb", m.peakExecutionMemory / MB)
        add(key, "executor.result_mb", m.resultSize / MB)
        add(key, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add(key, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add(key, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(key, "spill.disk_mb", m.diskBytesSpilled / MB)
        add(key, "tables.scan_mb", m.inputMetrics.bytesRead / MB)
        add(key, "tables.scan_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedBytes += size - rddBlocks.getOrElse(id, 0L)
      if (size > 0) rddBlocks(id) = size else rddBlocks.remove(id)
      if (current != null) max(current, "storage.cached_peak_mb", cachedBytes / MB)
    }
  }

  /** Streaming progress: one record per micro-batch. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      LayerListener.this.synchronized { streamsStarted += 1 }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      LayerListener.this.synchronized { streamsEnded += 1 }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      val b = Batch(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"),
        p.numInputRows, d("addBatch"), d("queryPlanning"),
        d("walCommit") + d("commitOffsets"), ops.map(_.commitTimeMs).sum,
        ops.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs).sum,
        ops.map(_.numRowsTotal).sum)
      LayerListener.this.synchronized { batches += b }
    }
  }

  /** Waits until both buses have delivered every event posted before this
    * call: a marker job on the Spark bus, and the termination of every
    * stream that started. Returns false on timeout. */
  def fence(): Boolean = {
    val sc = spark.sparkContext
    synchronized { fenceDone = false }
    sc.setLocalProperty(FenceProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceProp, null)
    val deadline = System.nanoTime() + 10L * 1000000000L
    def done = synchronized { fenceDone && streamsEnded >= streamsStarted }
    while (!done && System.nanoTime() < deadline) Thread.sleep(2)
    done
  }

  /** Removes and returns the counters of the given queries, attributing
    * micro-batches by `querySpans` (key -> (query start, end, build span)),
    * and records the micro-batch spans. */
  def drain(querySpans: Map[String, (Long, Long, Long)]): Map[String, Map[String, Double]] =
    synchronized {
      val batchSpan = mutable.Map[(String, Long), Long]()
      batches.foreach { b =>
        querySpans.find { case (_, (s, e, _)) => b.start >= s && b.start <= e }.foreach {
          case (key, (_, _, build)) =>
            add(key, "streaming.batches", 1)
            if (b.inputRows == 0) {
              add(key, "streaming.empty_batches", 1)
              add(key, "streaming.empty_batch_s", b.triggerMs / 1e3)
            }
            add(key, "streaming.add_batch_s", b.addBatchMs / 1e3)
            add(key, "streaming.planning_s", b.planningMs / 1e3)
            add(key, "streaming.wal_s", b.walMs / 1e3)
            add(key, "streaming.state_commit_s", b.stateCommitMs / 1e3)
            add(key, "streaming.state_update_s", b.stateUpdateMs / 1e3)
            max(key, "streaming.state_rows", b.stateRows.toDouble)
            val id = spans.newId()
            batchSpan((b.queryId, b.batchId)) = id
            spans.add(Span(id, build, "batch", s"batch ${b.batchId}", b.start,
              b.start + b.triggerMs))
        }
      }
      batches.clear()
      // a job run by a micro-batch belongs under that batch's span
      val reparent = batchJobs.flatMap { case (job, q, b) =>
        batchSpan.get((q, b)).map(job -> _) }.toMap
      if (reparent.nonEmpty) spans.reparent(reparent)
      batchJobs.clear()
      // every counter is reported, as zero where nothing fed it
      val out = querySpans.keys.map { k =>
        k -> (Metrics.map(_ -> 0.0).toMap ++
          counters.remove(k).map(_.toMap).getOrElse(Map.empty))
      }.toMap
      stageQuery.clear(); stageJob.clear(); jobSpans.clear()
      out
    }
}

object LayerListener {
  val QueryProp = "perfbench.query"
  val SpanProp = "perfbench.span"
  val FenceProp = "perfbench.fence"
  val MB: Double = 1024.0 * 1024.0

  /** Every counter the listener keeps per query. */
  val Metrics: Seq[String] = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_s",
    "executor.run_s", "executor.cpu_s", "executor.deserialize_s",
    "executor.peak_mem_mb", "executor.result_mb",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.disk_mb",
    "tables.scan_mb", "tables.scan_rows", "storage.cached_peak_mb",
    "streaming.batches", "streaming.empty_batches", "streaming.empty_batch_s",
    "streaming.add_batch_s", "streaming.planning_s", "streaming.wal_s",
    "streaming.state_commit_s", "streaming.state_update_s", "streaming.state_rows")

  final case class Job(key: String, spanId: Long, parent: Long,
      batch: Option[(String, Long)], start: Long)

  final case class Batch(queryId: String, batchId: Long, start: Long,
      triggerMs: Long, inputRows: Long, addBatchMs: Long, planningMs: Long,
      walMs: Long, stateCommitMs: Long, stateUpdateMs: Long, stateRows: Long)
}
