package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import graft.queries.QueryDef
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side, started by run.py:
  *
  *   perfbench.Main work=DIR sf=DIR workload=NAME seed=N seconds=S trace=0|1
  *     steal_max=SHARE
  *
  * Prints `READY <epoch ms>` once the session is ready, runs the workload,
  * writes its artifacts into the work dir and prints `RESULT <json>`. */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val spark = session(opts("work"))
    println(s"READY ${System.currentTimeMillis()}")
    System.out.flush()
    try new Run(spark, opts).execute() finally spark.stop()
  }

  /** graft.Bench's session and warm-up, with Spark's local storage in the
    * run's own work dir (run.py points java.io.tmpdir, where the engine
    * stages, there too), so every run starts from empty staging. */
  def session(work: String): SparkSession = {
    val spark = graft.Graft.builder(s"local[$Cpus]", Cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark)
    spark
  }

  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id * 2)", "count(distinct id % 100)")
      .collect()
}

/** One run: a cold pass, then warm passes until `seconds` have passed
  * and four clean warm passes are done, each pass submitting the
  * workload's queries one after another from this thread (a closed loop
  * with one client), in an order drawn from the seed.
  *
  * A pass is contended when the host stole more than `steal_max` of the
  * CPUs' time during it; the pass then measures the host, not the
  * program. Contended warm passes are left out of the metrics, and the
  * run goes on, up to 15 s past `seconds`, until it has enough clean
  * ones. A contended cold pass, or too few clean warm passes, makes the
  * run report itself contended instead of measured.
  *
  * The retained heap is counted after the second warm pass.
  *
  * A traced run records spans and layer counters on the cold pass and on
  * half of the warm passes; the other half run untraced, so the tracing
  * overhead is measured within the run. */
final class Run(spark: SparkSession, opts: Map[String, String]) {
  import LayerListener.{QueryProp, SpanProp}
  import Run._

  private val workload = opts("workload")
  private val queries = Workloads(workload)
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val trace = opts("trace") == "1"
  private val stealMax = opts("steal_max").toDouble
  private val sf = opts("sf")
  private val work = Paths.get(opts("work"))
  private val sc = spark.sparkContext
  private val spans = new Spans
  private val runSpan = spans.newId()
  private val listener = if (trace) Some(new LayerListener(spark, spans)) else None
  private val codegenLog = if (trace) Some(new CodegenLog) else None

  private val passes = mutable.ArrayBuffer[Pass]()
  private val firstDigest = mutable.Map[String, Int]()
  private val matched = mutable.Map[String, Int]().withDefaultValue(0)

  private def probe() = Probe(codegenLog.map(_.totalSeconds).getOrElse(0.0))
  // cold pass traced; warm passes traced in the order T U U T T U U T ...,
  // so that the warm-up drift across passes weighs on both sides alike
  private def traced(index: Int) = trace && (index == 0 || index % 4 <= 1)
  private def stealShare(p: Pass) = p.host("steal_s") / (p.wall * Probe.hostCpus)
  private def contended(p: Pass) = stealShare(p) > stealMax
  private def clean(traced: Boolean) =
    passes.tail.filter(p => p.traced == traced && !contended(p)).toSeq
  // The warm metrics are medians over the first four clean warm passes
  // (two traced and two untraced in a traced run). The JIT is still
  // compiling through a run's warm passes, so over all of them a run that
  // happened to be faster would get more passes and a lower figure; in
  // sizing that coupling made the figures spread more between seeds.
  private def measured(traced: Boolean) = clean(traced).take(if (trace) 2 else 4)

  def execute(): Unit = {
    // java.util.Random's first draws barely differ between nearby seeds;
    // SplittableRandom mixes the seed before it is used
    val rng = new Random(new java.util.SplittableRandom(seed).nextLong())
    val t0 = System.nanoTime()
    val start = System.currentTimeMillis()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val maxSeconds = math.min(100.0, seconds + 15)
    def enough = measured(false).size + measured(true).size == 4
    // Counted after a fixed number of warm passes, so that it includes
    // what each execution leaves behind but does not depend on how many
    // passes a run's speed allows. The warm-up query runs first, so that
    // what the last query left for its successor is released.
    var heap: (Double, Seq[String]) = (Double.NaN, Nil)
    passes += runPass(0, rng.shuffle(queries))
    if (!contended(passes.head))
      while ((elapsed < seconds || !enough) && elapsed < maxSeconds) {
        passes += runPass(passes.size, rng.shuffle(queries))
        if (passes.size == 3) {
          Main.warmUp(spark)
          heap = Probe.liveHeap()
        }
      }
    val contention =
      if (contended(passes.head))
        Some(f"the host stole ${stealShare(passes.head) * 100}%.0f%% of the CPUs' time " +
          "during the cold pass")
      else if (!enough)
        Some(s"only ${clean(false).size + clean(true).size} of ${passes.size - 1} warm " +
          s"passes in ${elapsed.round} s were clean; the host stole more than " +
          f"${stealMax * 100}%.0f%% of the CPUs' time during " +
          s"${passes.tail.count(contended)} of them")
      else None
    if (contention.isDefined) {
      println("RESULT " + Json(Map("contended" -> contention.get)))
      return
    }
    val staged = stagedArtifacts()
    spans.add(Span(runSpan, 0L, "run", s"$workload seed $seed", start,
      System.currentTimeMillis()))

    val cold = passes.head
    val warm = measured(false)
    val execs = passes.flatMap(_.execs)
    val failed = execs.count(_.error.isDefined)
    val e2e = Map(
      "cold_pass_s" -> cold.wall,
      "warm_pass_s" -> Stats.median(warm.map(_.wall)),
      "query_geomean_s" -> Stats.geomean(queries.map { q =>
        Stats.median(warm.flatMap(_.execs).filter(_.query == q.name).map(_.wall))
      }),
      "cpu_pass_s" -> Stats.median(warm.map(p => p.cpu - p.jit)),
      "heap_retained_mb" -> heap._1 / LayerListener.MB,
      "fail_ratio" -> failed.toDouble / execs.size)
    val layers = if (trace) layerMetrics(staged) else Map.empty[String, Double]

    writeOracleSql()
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> Main.Cpus, "sf" -> sf,
      "queries" -> queries.map(_.name),
      "passes" -> passes.map { p => Map(
        "index" -> p.index, "kind" -> (if (p.index == 0) "cold" else "warm"),
        "traced" -> p.traced, "order" -> p.order, "wall_s" -> p.wall,
        "cpu_s" -> p.cpu, "jit_cpu_s" -> p.jit, "host" -> p.host,
        "steal_share" -> stealShare(p), "contended" -> contended(p),
        "queries" -> p.execs.map(e => Map("query" -> e.query, "wall_s" -> e.wall,
          "rows" -> e.rows, "error" -> e.error))) },
      "per_query" -> (if (trace) perQueryLayers else Map.empty),
      "heap_top_classes" -> heap._2,
      "metrics" -> (e2e ++ layers))
    Files.writeString(work.resolve("run.json"), Json(artifact))
    if (trace) Files.writeString(work.resolve("spans.json"), Json(spans.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end) }))
    println("RESULT " + Json(Map(
      "metrics" -> (e2e ++ layers), "attempted" -> execs.size, "failed" -> failed,
      "errors" -> execs.flatMap(e => e.error.map(m => s"${e.pass}/${e.query}: $m")).distinct,
      "matched" -> matched)))
  }

  private def runPass(index: Int, order: Seq[QueryDef]): Pass = {
    val on = traced(index)
    if (on) listener.foreach { l =>
      sc.addSparkListener(l)
      spark.streams.addListener(l.streams)
    }
    codegenLog.foreach(_.capture(on))
    val passSpan = spans.newId()
    val querySpans = mutable.Map[String, (Long, Long, Long)]()
    val load0 = Probe.load1()
    val p0 = probe()
    val start = System.currentTimeMillis()
    val execs0 = order.map(q => runQuery(index, passSpan, q, querySpans))
    spans.add(Span(passSpan, runSpan, "pass", s"pass $index", start,
      System.currentTimeMillis()))
    val d = probe().since(p0)
    val listened = listener.filter(_ => on).map { l =>
      if (!l.fence()) System.err.println(s"[perfbench] pass $index: listener fence timed out")
      val out = l.drain(querySpans.toMap)
      sc.removeSparkListener(l)
      spark.streams.removeListener(l.streams)
      out
    }.getOrElse(Map.empty)
    val execs = execs0.map(e =>
      e.copy(layers = e.layers ++ listened.getOrElse(s"$index/${e.query}", Map.empty)))
    val host = Map(
      "busy_s" -> d.hostBusyS, "steal_s" -> d.stealS,
      "other_cpu_s" -> math.max(0.0, d.hostBusyS - d.cpuS),
      "load1_start" -> load0, "load1_end" -> Probe.load1(),
      "gc_s" -> d.gcS, "jit_s" -> d.jitS, "codegen_compiles" -> d.compiles)
    Pass(index, on, order.map(_.name), execs.map(_.wall).sum,
      execs.map(_.layers("process.cpu_s")).sum, execs.map(_.layers("process.jit_cpu_s")).sum,
      host, execs)
  }

  /** Times one query: build (QueryDef.run), plan (the executed plan) and
    * execute (collecting the full result), then the harness's cache
    * clearing as in graft.Bench. The result is checked after the timed
    * region. */
  private def runQuery(pass: Int, passSpan: Long, q: QueryDef,
      querySpans: mutable.Map[String, (Long, Long, Long)]): Exec = {
    val key = s"$pass/${q.name}"
    val querySpan = spans.newId()
    val phases = mutable.Map[String, Double]()
    var buildSpan = 0L
    def phase[T](name: String)(body: => T): T = {
      val id = spans.newId()
      if (name == "build") buildSpan = id
      sc.setLocalProperty(SpanProp, id.toString)
      val t = System.nanoTime()
      try spans.timed(id, querySpan, "phase", name)(body)
      finally phases(s"queries.${name}_s") = (System.nanoTime() - t) / 1e9
    }
    sc.setLocalProperty(QueryProp, key)
    val p0 = probe()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val out = Try {
      df = phase("build")(q.run(spark, sf))
      phase("plan")(df.queryExecution.executedPlan)
      phase("execute")(df.collect())
    }
    spark.catalog.clearCache()
    val wall = (System.nanoTime() - t0) / 1e9
    val d = probe().since(p0)
    sc.setLocalProperty(QueryProp, null)
    sc.setLocalProperty(SpanProp, null)
    val end = System.currentTimeMillis()
    spans.add(Span(querySpan, passSpan, "query", q.name, start, end))
    querySpans(key) = (start, end, buildSpan)

    val catalyst = Option(df).flatMap(x => Try(x.queryExecution.tracker.phases).toOption)
      .map { ph =>
        def s(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
        Map("catalyst.analysis_s" -> s("analysis"),
          "catalyst.optimize_s" -> s("optimization"), "catalyst.plan_s" -> s("planning"))
      }.getOrElse(Map.empty)
    val rows = out.toOption.map(_.length.toLong).getOrElse(0L)
    val error = out match {
      case Failure(e) =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      case Success(result) => check(q, df, result)
    }
    val layers = phases.toMap ++ catalyst ++ Map(
      "process.cpu_s" -> d.cpuS, "process.jit_cpu_s" -> d.jitCpuS,
      "jvm.gc_s" -> d.gcS, "jvm.jit_s" -> d.jitS,
      "codegen.compiles" -> d.compiles, "codegen.compile_s" -> d.compileS,
      "result.rows" -> rows.toDouble)
    Exec(pass, q.name, wall, error, rows, layers)
  }

  /** Every execution must return what the query's first one returned; the
    * first one is saved for run.py's oracle check. */
  private def check(q: QueryDef, df: DataFrame, rows: Array[Row]): Option[String] = {
    val d = Results.digest(rows)
    firstDigest.get(q.name) match {
      case None =>
        firstDigest(q.name) = d
        matched(q.name) += 1
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(work.resolve("results").resolve(q.name).toString)
        None
      case Some(`d`) => matched(q.name) += 1; None
      case Some(_) => Some("result differs from the query's first result")
    }
  }

  /** The oracle SQL of every saved result, beside the results, as
    * tools/check_oracle.py reads them; staged-table references are
    * resolved as graft.Verify resolves them. */
  private def writeOracleSql(): Unit = {
    val staged = "__STAGED:([A-Za-z0-9_]+):v([0-9]+)__".r
    val sql = queries.filter(q => firstDigest.contains(q.name)).flatMap { q =>
      q.oracle.map(s => q.name -> staged.replaceAllIn(s, m =>
        java.util.regex.Matcher.quoteReplacement(
          graft.Staging.path(m.group(1), sf, m.group(2).toInt).toString)))
    }.toMap
    val dir = Files.createDirectories(work.resolve("results"))
    Files.writeString(dir.resolve("oracle_sql.json"), Json(sql))
  }

  /** Count and megabytes of what the engine staged under java.io.tmpdir
    * (every graft_* entry but streaming checkpoints; links are not
    * followed, so a link farm over the corpus weighs nothing). */
  private def stagedArtifacts(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val entries = Files.list(tmp)
    val staged = try entries.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("graft_") && !n.startsWith("graft_ckpt_")
    }.toList finally entries.close()
    def bytes(p: Path): Long = {
      val w = Files.walk(p)
      try w.iterator().asScala
        .filter(Files.isRegularFile(_, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .map(Files.size).sum
      finally w.close()
    }
    (staged.size.toDouble, staged.map(bytes).sum / LayerListener.MB)
  }

  // layer metrics whose per-pass value is the largest query's, not the sum
  private val PeakMetrics = Set("executor.peak_mem_mb", "storage.cached_peak_mb")

  private def passLayers(p: Pass): Map[String, Double] = {
    val keys = p.execs.flatMap(_.layers.keys).distinct
    val sums = keys.map { k =>
      val vs = p.execs.map(_.layers.getOrElse(k, 0.0))
      k -> (if (PeakMetrics(k)) vs.max else vs.sum)
    }.toMap
    sums + ("tables.rows_per_result_row" ->
      sums.getOrElse("tables.scan_rows", 0.0) / math.max(1.0, sums("result.rows")))
  }

  /** Every layer value a traced pass recorded, as the median over the
    * measured traced warm passes, and as `cold.<name>` for the cold pass. */
  private def layerMetrics(staged: (Double, Double)): Map[String, Double] = {
    val tracedWarm = measured(true)
    val per = tracedWarm.map(passLayers)
    val warm = per.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(per.map(_.getOrElse(k, 0.0)))).toMap
    val cold = passLayers(passes.head).map { case (k, v) => s"cold.$k" -> v }
    val tracedS = Stats.median(tracedWarm.map(_.wall))
    val untracedS = Stats.median(measured(false).map(_.wall))
    warm ++ cold ++ Map(
      "staging.artifacts" -> staged._1, "staging.mb" -> staged._2,
      "host.steal_s" -> Stats.median(tracedWarm.map(_.host("steal_s"))),
      "host.other_cpu_s" -> Stats.median(tracedWarm.map(_.host("other_cpu_s"))),
      "cpu_pass_s" -> Stats.median(tracedWarm.map(p => p.cpu - p.jit)),
      "trace.warm_pass_s" -> tracedS, "trace.untraced_warm_pass_s" -> untracedS,
      "trace.overhead_s" -> (tracedS - untracedS))
  }

  /** Per query: its cold-pass layer values and the median over the traced
    * warm passes. */
  private def perQueryLayers: Map[String, Any] = queries.map { q =>
    def of(ps: Iterable[Pass]) = ps.flatMap(_.execs).filter(_.query == q.name)
    val warm = of(measured(true))
    val names = warm.flatMap(_.layers.keys).toSet
    q.name -> Map(
      "cold" -> of(passes.take(1)).headOption.map(_.layers).getOrElse(Map.empty),
      "warm" -> names.map(k => k -> Stats.median(warm.map(_.layers.getOrElse(k, 0.0)))).toMap)
  }.toMap
}

object Run {
  final case class Exec(pass: Int, query: String, wall: Double,
      error: Option[String], rows: Long, layers: Map[String, Double])
  final case class Pass(index: Int, traced: Boolean, order: Seq[String],
      wall: Double, cpu: Double, jit: Double, host: Map[String, Double],
      execs: Seq[Exec])
}

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Iterable[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
