package graft

import org.apache.spark.sql.SparkSession

/** One-call session setup for library users — the config contract the
  * engine is tested under, so a user switching from the reference gets
  * the judged behavior without copying builder boilerplate:
  * `graft` SQL functions registered, event-timestamp handling, UTC
  * timezone (cross-engine hash determinism), AQE left on.
  *
  * `shufflePartitions` should be ≈2–3× total executor cores on a real
  * cluster (SCALE.md "Config at scale"); the default suits local use.
  */
object Graft {

  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Round-16 session-rot fix, leg 2 (SCALE.md): the default Janino
      // class cache (100 entries) evicts every query's generated classes
      // in a catalog-sized session, so each re-run re-instantiates fresh
      // classes whose JIT state restarts from zero — measured as the
      // 3–5× warm-CPU amplification of the sf1000 probe once leg 1
      // (-XX:-UseCodeCacheFlushing, build.sbt) kept compiled code alive.
      // 10k entries keeps one session's working set resident; a static
      // conf, so it must ride the builder, not the session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Spark keys its Janino class cache on (thread context class
      // loader, source). Every streaming query runs in a cloned session
      // with a new sessionUUID, and with artifact isolation on each task
      // carries that session's artifact state, so the executor builds a
      // fresh class loader per stream run and recompiles every generated
      // class it had already compiled (27 per warm perfbench `streaming`
      // pass, all byte-identical). The engine adds no per-session jars or
      // files, so isolation protects nothing here. A static conf: it
      // must ride the builder, not the session.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Run `body` with session confs `settings` in force, then put each key
    * back as it was found: set to its old value, or unset if it had none.
    * Apart from [[register]]'s one-time setup, the one place engine code
    * changes session conf after construction (fixpoint widths, streaming
    * state width, state-store provider).
    *
    * SINGLE-THREADED ASSUMPTION: the session is shared, so a query or
    * stream PLANNED on it by another thread inside the window picks up
    * the scoped values, and overlapping scopes restore stale values. All
    * callers in this repo run one query at a time (Verify/Bench). A fix
    * for concurrent use of one session changes this helper only; moving
    * a stream into a child session does not work (ROADMAP direction 4). */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val explicit = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Attach graft functions to an existing session (e.g. one owned by a
    * host application that can't pass extensions at build time). Must
    * register the same set as GraftExtensions — RegistrySmokeSpec pins
    * the parity so a function added to one path can't miss the other.
    * Also sets the event-timestamp conf [[builder]] sets, which the
    * events readers rely on.
    *
    * What this cannot do: a host session built elsewhere keeps artifact
    * isolation on (`spark.sql.artifact.isolation.enabled` is static, so
    * it cannot change after the session is created), and every stream
    * run then recompiles its executor-side generated classes. Build the
    * session with [[builder]], or pass that conf at build time, to reuse
    * them. */
  def register(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Seq(
      (graft.functions.HyperplaneBucket.ident,
        graft.functions.HyperplaneBucket.info,
        graft.functions.HyperplaneBucket.builder),
      (graft.functions.MinHashSignature.ident,
        graft.functions.MinHashSignature.info,
        graft.functions.MinHashSignature.builder),
      (graft.functions.ShingleHashes.ident,
        graft.functions.ShingleHashes.info,
        graft.functions.ShingleHashes.builder),
      (graft.functions.GramHashes.ident,
        graft.functions.GramHashes.info,
        graft.functions.GramHashes.builder),
      (graft.functions.Fingerprint.ident,
        graft.functions.Fingerprint.info,
        graft.functions.Fingerprint.builder),
    ).foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }
  }

  /** Register every corpus table as a temp view so pure-SQL users can
    * `spark.sql` against the catalog's schema directly (at 100 TB these
    * would be real catalog tables; Tables keeps that a one-line swap). */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }
}
