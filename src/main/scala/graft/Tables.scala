package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md /
  * FIXTURES.md). Every `SparkEntry.queries` function receives the scale
  * -factor directory and goes through here, so filter pushdown and column
  * pruning reach the parquet scan uniformly. Each table is read through
  * [[Tables.parquet]], which infers a table's schema once per file
  * version instead of once per query.
  *
  * Scale note: at 100 TB these would be partitioned/bucketed catalog
  * tables; the loader keeps the access path behind one seam so swapping
  * `spark.read.parquet(dir)` for `spark.table(name)` is a one-line change.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  private def t(name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts normalized to a session-TZ (UTC) TIMESTAMP — see
    * [[Tables.normalizeTs]] for the generator-version schemas handled. */
  def events: DataFrame = Tables.normalizeTs(t("events"))
  /** The document corpus, UNGUARDED (round 21). Round 20 routed every
    * read through the [[computeDense]] repartition guard; the driver's
    * full-catalog bench proved that blanket scope NET-NEGATIVE: the
    * injected 32-way exchange + 32-tiny-task stages + lost map-side
    * aggregation cost the ~30 light consumers (q_text_tokens,
    * q_dedup_exact, q_dedup_incremental, q_text_tfidf, …) 1.7–4.2×,
    * proven code-induced by the same queries running FASTER at 8 cores.
    * Only the kernel-dense scans (shingle/gram/minhash folds over every
    * document) win from the widened scan — those call sites opt in via
    * [[documentsDense]]; everyone else reads the table as laid out. */
  def documents: DataFrame  = t("documents")

  /** The document corpus with the COMPUTE-DENSE scan parallelism guard
    * (same contract as [[embeddings]]): for consumers whose cost is
    * per-row kernel work (shingle/minhash/gram folds) over every
    * document — the corpus ships as one small single-row-group parquet
    * file that byte-splitting cannot divide, so without the guard the
    * whole fold runs in ONE task (StageProf round 20: 1.5 s of
    * q_dedup_containment's 2.7 s warm wall while 31 cores idled).
    * Results are partition-independent, filters push through
    * Repartition, and a real 100 TB corpus (many files / row groups)
    * takes the no-shuffle branch. Opt-in per call site (round 21): the
    * driver bench proved the guard helps ONLY the kernel-dense scans. */
  def documentsDense: DataFrame = computeDense("documents", "doc_id")

  /** Alias kept for the consumer whose RESULT is the plan itself
    * (q_plan_display): its oracle pins the displayed operator chain,
    * so it must never grow a guard exchange even if [[documents]]'
    * default changes again. */
  private[graft] def documentsRaw: DataFrame = t("documents")

  /** The embedding corpus, with COMPUTE-DENSE scan parallelism. The
    * vector family's cost is per-row arithmetic (cosine/JL/PQ folds,
    * Lloyd assignment), not bytes — and the corpus ships as one small
    * snappy parquet file with a single row group (106 MB even at
    * sf100), which byte-based splitting cannot divide: the sf100
    * decade run measured q_sim_ivf_ann at 572 s wall / 702 CPU-s on 32
    * cores — a 1.2-thread plan. When the scan's split count would
    * leave most of the machine idle, hash-spread the rows across the
    * session's cores (a one-off shuffle of the raw vectors, trivially
    * cheaper than the folds it parallelizes); a real 100 TB corpus
    * arrives as thousands of files and takes the no-shuffle branch, so
    * the guard costs nothing exactly where it isn't needed. Results
    * are partition-independent (per-row expressions, key-partitioned
    * aggregates, deterministic ORDER BY), and Catalyst pushes filters
    * through Repartition so scan pruning is unchanged. */
  def embeddings: DataFrame = computeDense("embeddings", "vec_id")

  /** The guard behind [[embeddings]]/[[documentsDense]]: when the
    * corpus's REAL split count (row groups, not planner byte-splits)
    * would leave most of the machine idle, hash-spread the rows across
    * the session's cores — a one-off shuffle of the raw rows, trivially
    * cheaper than the per-row kernel folds it parallelizes. One listing
    * of the corpus ([[Staging.listing]]) keys the schema read and gives
    * the split count, so each dense read lists the corpus once. */
  private def computeDense(name: String, key: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val listing = Staging.listing(spark, path)
    // a missing corpus raises the canonical AnalysisException here,
    // from the read itself
    val raw = Tables.parquet(spark, path, listing)
    val par = spark.sparkContext.defaultParallelism
    // Splittability floor = real row groups, not planner byte-splits:
    // the FileScan happily "splits" a one-row-group file into 27 byte
    // ranges, 26 of which are empty (a parquet task cannot start inside
    // a row group) — counting those hides the problem the guard exists
    // to catch. Estimate actual splits as max(files, bytes / 128 MB —
    // the standard row-group target); a corpus of big multi-row-group
    // files or many files takes the no-shuffle branch.
    val splits = math.max(listing.files.toLong, listing.bytes / (128L << 20))
    // HASH-repartition on the unique row key, not round-robin (round
    // 20): a keyless repartition(n) pays sortBeforeRepartition — a
    // local sort of the FULL rows (multi-KB text) on every read, per
    // consumer, measured at ~2x the CPU of the shingle queries it was
    // meant to speed up. Hashing the unique id spreads rows evenly,
    // needs no sort, and is deterministic under task retry (the
    // guide-§2.5 rule: derive synthetic keys deterministically).
    if (splits * 4 < par)
      raw.repartition(par, org.apache.spark.sql.functions.col(key))
    else raw
  }
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** A parquet input that outlives the query (a corpus table, a staged
    * artifact), read with its schema inferred once per version.
    *
    * `spark.read.parquet(path)` infers the schema eagerly, and that
    * inference is a Spark job that reads a footer: one job per read, on
    * every query that reads the table, even when the file has not
    * changed since the last query. This reader keeps the inferred schema
    * per path, under a key of two parts: the input's version
    * ([[Staging.listing]]: path, size, mtime and content probes of every
    * data file) and the session's parquet-reading confs ([[readConfs]]).
    * While the key holds, the read is
    * `spark.read.schema(memo).parquet(path)`, which lists the files but
    * starts no job; when it changes, the schema is inferred again
    * exactly as a plain read infers it.
    *
    * Only the schema is kept, never the DataFrame: a DataFrame carries
    * its relation's attribute ids, so two reads of one table sharing a
    * frame could no longer be told apart in a self-join. Outputs that
    * are new on every run (per-run partials, checkpoints) stay on plain
    * reads: their paths never repeat, so a memo entry would never be hit.
    * A missing path is never memoized: its inference raises Spark's own
    * `AnalysisException`. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, path, Staging.listing(spark, path))

  /** [[parquet]] under a listing of `path` the caller already made. */
  private def parquet(spark: SparkSession, path: String,
      listing: Staging.Listing): DataFrame = {
    val key = s"${listing.version}|${readConfs(spark)}"
    val hit = schemas.get(path)
    val schema =
      if (hit != null && hit._1 == key) hit._2
      else {
        val inferred = spark.read.parquet(path).schema
        schemas.put(path, (key, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  /** Buckets of every staged bucketed layout. [[writeBucketed]] and
    * [[bucketed]] must agree on it: Spark maps bucket ids from the
    * writer's file names. */
  private val Buckets = 8

  /** `df` written at `path` bucketed and sorted on `key`. A bucketed write
    * needs a catalog name even for a one-shot build: a process-unique
    * one, dropped afterwards (the files stay: the table is external). */
  private[graft] def writeBucketed(df: DataFrame, key: String, path: String): Unit = {
    val name = s"graft_bucket_build_$uniqueSuffix"
    try df.write.bucketBy(Buckets, key).sortBy(key).option("path", path).saveAsTable(name)
    finally df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** The layout [[writeBucketed]] wrote at `path`, read as a bucketed
    * table. Its resolved relation, bucket spec included, is captured
    * before the catalog entry is dropped, so the frame keeps reading the
    * immutable files. The name is unique per call: PID alone collides
    * when two threads of one JVM read concurrently, and one thread's
    * DROP could remove the table between the other's CREATE and
    * `spark.table`. */
  private[graft] def bucketed(spark: SparkSession, path: String, key: String): DataFrame = {
    val cols = parquet(spark, path).schema.fields
      .map(f => s"${f.name} ${f.dataType.catalogString}").mkString(", ")
    val name = s"graft_bucketed_${path.hashCode.toHexString}_$uniqueSuffix"
    try {
      spark.sql(s"CREATE TABLE $name ($cols) USING parquet CLUSTERED BY ($key) " +
        s"SORTED BY ($key) INTO $Buckets BUCKETS LOCATION '$path'")
      spark.table(name)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  private def uniqueSuffix: String =
    s"${ProcessHandle.current().pid()}_${System.nanoTime().toHexString}"

  /** [[parquet]]'s memo: path -> (key, inferred schema). One entry per
    * path; a new version replaces the old one. */
  private[graft] val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** The session confs that can change what parquet inference returns:
    * every set `spark.sql.*parquet*` conf (binary-as-string, nanos as
    * long, timestamp NTZ inference, ...) and `spark.sql.caseSensitive`. */
  private[graft] def readConfs(spark: SparkSession): String = {
    val conf = spark.sessionState.conf
    val parquetConfs = conf.getAllConfs.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.") && k.toLowerCase.contains("parquet")
    }.sorted
    (parquetConfs :+ ("spark.sql.caseSensitive" ->
      conf.caseSensitiveAnalysis.toString)).mkString(",")
  }

  /** events.ts across generator versions, normalized to one type.
    *
    * Early generators wrote parquet TIMESTAMP(NANOS), which Spark's
    * reader rejects outright ([PARQUET_TYPE_ILLEGAL]); under
    * `spark.sql.legacy.parquet.nanosAsLong` (set by Graft.builder and
    * Graft.register, never per read) it arrives as a raw-nanos
    * LONG and is floored to microseconds (DuckDB's `epoch_us` floors
    * identically, and floor is monotone, so ordering and µs-aligned
    * range predicates agree). The round-10 generator writes native
    * timestamp[us], which Spark reads as TIMESTAMP_NTZ — cast to the
    * session-TZ TIMESTAMP (session TZ is pinned UTC by Graft.builder,
    * so the instant is unchanged and the output type matches what every
    * query/oracle was written against). Both paths yield bit-identical
    * µs instants. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
