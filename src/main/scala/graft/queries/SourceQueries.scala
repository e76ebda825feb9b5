package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Non-parquet source formats as JUDGED capabilities: the nation table
  * served through a CSV scan and region through a JSON-lines scan, joined
  * and rolled up, hash-checked against the DuckDB oracle reading the
  * original parquet. Staging (parquet → csv/json on local disk, written
  * once per sf dir) is test plumbing; the judged surface is a schema'd
  * `spark.read.csv/json` feeding a normal Catalyst plan — pruning,
  * broadcast, aggregation all behave exactly as over parquet. At 100 TB
  * the same readers scan text-format data lakes split-parallel; explicit
  * schemas avoid the full-data inference pass (`inferSchema` reads
  * everything once before the real scan — never at scale). */
object SourceQueries {

  /** Stage `df` under /tmp in `fmt`, once per (table, sf dir);
    * `partitionCols` stages a hive-partitioned layout instead of a flat
    * one. */
  private def stage(spark: SparkSession, dir: String, table: String,
      fmt: String, df: => DataFrame,
      partitionCols: Seq[String] = Nil, coalesce1: Boolean = true): String = {
    // content-fingerprinted (graft.Staging): regenerated testdata lands
    // in a fresh staged path instead of silently reusing stale copies
    graft.Staging.stage(s"graft_src_${table}_$fmt", dir) {
      tmp =>
        (if (coalesce1) df.coalesce(1) else df).write.mode("overwrite")
          .format(fmt)
          .option("header", "true").partitionBy(partitionCols: _*)
          .save(tmp.toString)
    }
  }

  /** CSV nation ⋈ JSON region → nations per region. The oracle reads the
    * parquet originals: a hash match proves the text scans are lossless
    * (schema'd read, no inference drift). */
  val qSourceCsvJson: QueryDef = QueryDef.oracle(
    "q_source_csv_json",
    """SELECT r_name, COUNT(*) AS n_nations,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val t = Tables(spark, dir)
    val nationCsv = spark.read
      .schema(t.nation.schema)
      .option("header", "true")
      .csv(stage(spark, dir, "nation", "csv", t.nation))
    val regionJson = spark.read
      .schema(t.region.schema)
      .json(stage(spark, dir, "region", "json", t.region))
    nationCsv.join(broadcast(regionJson),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_nationkey")).cast("long").as("sum_keys"))
      .orderBy("r_name")
  }

  /** ORC scan with predicate pushdown — the third columnar lake format
    * (parquet everywhere else, csv/json above). The filter must reach
    * the ORC reader as a pushed predicate (PlanSpec pins PushedFilters
    * on the orc scan), exactly as it would on parquet; a hash match
    * against the parquet-reading oracle proves the format roundtrip is
    * lossless. */
  val qSourceOrc: QueryDef = QueryDef.oracle(
    "q_source_orc",
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS sum_keys
      |FROM customer WHERE c_acctbal > 1000
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val t = Tables(spark, dir)
    val customerOrc = spark.read
      .schema(t.customer.schema)
      .orc(stage(spark, dir, "customer", "orc", t.customer))
    customerOrc.filter(col("c_acctbal") > 1000)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).cast("long").as("sum_keys"))
      .orderBy("c_mktsegment")
  }

  /** Dynamic partition pruning over a month-partitioned fact — THE scan
    * optimization a date-partitioned 100 TB lake lives on: the dim-side
    * filter (Q1 months) prunes fact PARTITIONS at runtime via the
    * reused broadcast, so the scan never touches the other three
    * quarters' files. The fact table is staged once per sf dir as a
    * hive-partitioned parquet layout (partition column = yyyy-MM month);
    * PlanSpec pins the `dynamicpruning` expression in the fact scan's
    * PartitionFilters. The oracle states the same aggregate as a plain
    * quarter filter over the unpartitioned parquet — a hash match proves
    * pruning changed the I/O, not the answer. */
  val qJoinDpp: QueryDef = QueryDef.oracle(
    "q_join_dpp",
    """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
      |FROM orders WHERE quarter(o_orderdate) = 1
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val t = Tables(spark, dir)
    val fact = Tables.parquet(spark, stage(spark, dir, "orders_part", "parquet",
      t.orders.withColumn("o_month",
        date_format(col("o_orderdate"), "yyyy-MM")),
      partitionCols = Seq("o_month")))
    // dim: month → quarter, built from the orders DATES (dim-side work is
    // dim-sized); the Q1 filter on it is what DPP pushes into the fact scan
    val dim = t.orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        quarter(col("o_orderdate")).as("q"))
      .distinct()
      .filter(col("q") === 1)
    fact.join(broadcast(dim), fact("o_month") === dim("m"))
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_month")
  }

  /** The 16-bit × 2 Morton (Z-order) interleave as ONE algebra rendered
    * per engine (the Scramble discipline — the two must never drift):
    * bit i of b1 lands at 2i, bit i of b2 at 2i+1, extracted with pure
    * integer div/mod so the identical expression runs under Spark's
    * `div` and DuckDB's `//`. Inputs must be in [0, 65536); z < 2^32. */
  private[queries] def zInterleaveSql(b1: String, b2: String,
      divOp: String): String =
    (0 until 16).map { i =>
      val p = 1L << i
      // bare integral literals: both parsers widen past int32 to bigint,
      // and the inputs are bigint columns, so every term stays 64-bit
      s"(($b1 $divOp $p) % 2) * ${1L << (2 * i)} + " +
        s"(($b2 $divOp $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-ORDER (space-filling-curve) layout — the multi-dimensional
    * clustering a 100 TB lake uses when queries slice on TWO columns at
    * once: a single-column sort makes parquet min/max stats tight on
    * that column only, while sorting by the Morton interleave of
    * (custkey, order-day) tiles the 2-D space so EVERY file's min/max
    * box is small in BOTH dimensions — a (custkey range × date range)
    * box query then skips most row groups on stats alone, which no
    * 1-D layout can do. Each dimension is NORMALIZED to the full
    * 16-bit range via its table max (deterministic integral arithmetic,
    * identical in both engines) before interleaving — unnormalized
    * unequal bit widths make the curve's high bits degenerate to the
    * wider dimension, i.e. a plain 1-D sort (measured: the unnormalized
    * curve tied the date sort on file skipping; the normalized one
    * beats it). The staged layout is range-partitioned and sorted by z
    * (write-once, [[graft.Staging.stage]]); the judged query runs the 2-D box
    * rollup over the z-laid table AND pins the curve values themselves
    * (sum/min/max of z per group — integer-exact, same rendered algebra
    * in DuckDB). A hash match proves the layout changed the I/O, not
    * the answer (the DPP argument); LayoutSpec quantifies the
    * file-skipping win against a date-sorted layout. */
  val qLayoutZorder: QueryDef = QueryDef.oracle(
    "q_layout_zorder",
    s"""WITH d AS (
      |  SELECT o_orderpriority, o_custkey, o_orderdate, o_totalprice,
      |    date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS dd
      |  FROM orders),
      |b AS (
      |  SELECT o_orderpriority, o_custkey, o_orderdate, o_totalprice,
      |    o_custkey * 65535 // (SELECT MAX(o_custkey) FROM d) AS b1,
      |    dd * 65535 // (SELECT MAX(dd) FROM d) AS b2
      |  FROM d),
      |z AS (
      |  SELECT o_orderpriority, o_custkey, o_orderdate, o_totalprice,
      |    ${zInterleaveSql("b1", "b2", "//")} AS zval
      |  FROM b)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  CAST(SUM(zval) AS BIGINT) AS sum_z,
      |  CAST(MIN(zval) AS BIGINT) AS min_z, CAST(MAX(zval) AS BIGINT) AS max_z
      |FROM z
      |WHERE o_custkey BETWEEN 20 AND 60
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val laid = Tables.parquet(spark, zorderedOrdersPath(spark, dir))
    laid
      .filter(col("o_custkey").between(20, 60)
        && col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("revenue"),
        sum(col("zval")).cast("long").as("sum_z"),
        min(col("zval")).cast("long").as("min_z"),
        max(col("zval")).cast("long").as("max_z"))
      .orderBy("o_orderpriority")
  }

  /** Stage orders in Z-order: per-dimension 16-bit normalization by the
    * table max (two bounded driver scalars — the CC convergence-scalar
    * kind; the oracle states the same maxes as scalar subqueries), then
    * zval by the SAME rendered interleave as the oracle, 64 range
    * partitions sorted within — each output file covers one compact
    * curve segment, i.e. a small 2-D tile. Write-once per sf dir
    * (shared with LayoutSpec). */
  private[graft] def zorderedOrdersPath(
      spark: SparkSession, dir: String): String = {
    graft.Staging.stage("graft_src_orders_zorder_parquet", dir) { tmp =>
      val t = Tables(spark, dir)
      val withDay = t.orders
        .withColumn("dd", datediff(col("o_orderdate"),
          lit("1995-01-01").cast("timestamp")).cast("bigint"))
      val mx = withDay
        .agg(max(col("o_custkey")), max(col("dd"))).head()
      val (maxCk, maxDd) = (mx.getLong(0), mx.getLong(1))
      // `div`, not `/`: Column./ is double division; the oracle's `//`
      // is integral and the two must match bit-for-bit
      val withZ = withDay
        .withColumn("b1", expr(s"o_custkey * 65535 div $maxCk"))
        .withColumn("b2", expr(s"dd * 65535 div $maxDd"))
        .withColumn("zval", expr(zInterleaveSql("b1", "b2", "div")))
        .drop("dd", "b1", "b2")
      withZ.repartitionByRange(64, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Small-file COMPACTION — the lake-maintenance pass every 100 TB table
    * needs: streaming sinks, incremental upserts, and per-task writers
    * leave thousands of KB-scale files per partition, and scan cost at
    * that point is dominated by file OPEN overhead (footer reads, driver
    * listing, task scheduling), not bytes. The operator: list the
    * fragmented layout's file sizes (driver-side fs METADATA, bounded by
    * file count — never data), size the target file count as
    * ceil(bytes / target_file_size), and rewrite via
    * `repartitionByRange(n, doc_id) + sortWithinPartitions` — one shuffle,
    * and the compacted files carry tight non-overlapping doc_id min/max
    * stats, so the rewrite IMPROVES clusteredness rather than merely
    * merging (a `coalesce` would concatenate unrelated row groups and
    * destroy stats locality; at 100 TB the same plan runs per table
    * partition, compacting only partitions whose small-file count
    * crosses a threshold). The judged query rolls up the COMPACTED
    * table; the oracle states the same rollup over the original
    * documents parquet — a hash match (min/max md5 of the texts
    * included) proves compaction changed the file layout and nothing
    * else. LayoutSpec pins the mechanics: ≥32 fragments in, ≤4 files
    * out, identical row multiset. */
  val qLayoutCompact: QueryDef = QueryDef.oracle(
    "q_layout_compact",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  MIN(md5(text)) AS min_md5, MAX(md5(text)) AS max_md5
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables.parquet(spark, compactedDocsPath(spark, dir))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        min(md5(col("text").cast("binary"))).as("min_md5"),
        max(md5(col("text").cast("binary"))).as("max_md5"))
      .orderBy("source")
  }

  /** The deliberately fragmented documents layout (64 hash-scattered tiny
    * files — the post-streaming-sink state), staged write-once per sf
    * dir. Shared with LayoutSpec. */
  private[graft] def fragmentedDocsPath(
      spark: SparkSession, dir: String): String =
    stage(spark, dir, "docs_frag", "parquet",
      Tables(spark, dir).documents.repartition(64, col("doc_id")),
      coalesce1 = false)

  /** Compacted rewrite of [[fragmentedDocsPath]], write-once per sf dir:
    * target file count from the fragmented layout's LISTED byte size
    * (ceil(bytes / 128 MB), floor 1 — at bench scale that is 1–2 files;
    * the sizing rule, not the constant, is the operator). */
  private[graft] def compactedDocsPath(
      spark: SparkSession, dir: String): String = {
    val frag = fragmentedDocsPath(spark, dir)
    graft.Staging.stage("graft_src_docs_compact_parquet", dir) { tmp =>
      val bytes = parquetBytes(frag)
      val target = 128L << 20
      val nFiles = math.max(1L, (bytes + target - 1) / target).toInt
      Tables.parquet(spark, frag)
        .repartitionByRange(nFiles, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Total bytes of a staged layout's parquet data files — fs metadata
    * listing only. Shared with LayoutSpec's file-count pins. */
  private[graft] def parquetBytes(path: String): Long = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  /** Parquet SCHEMA EVOLUTION — how a 100 TB lake actually grows: an
    * ingest pipeline adds a column (here `quality`), old files keep the
    * old schema forever (nobody rewrites petabytes for a new column),
    * and readers must union the schemas — `mergeSchema` merges the file
    * footers at planning time and fills the missing column with NULL for
    * pre-evolution files. The staged layout is two hive-partitioned
    * batches (batch=1 pre-evolution, batch=2 with the added column), so
    * the query also proves partition discovery composes with footer
    * merging. The oracle states the same rollup over the original
    * documents with the evolution boundary as a CASE — a hash match
    * proves NULL-fill semantics, not just row counts. NOTE: merged
    * footer reads are a PLANNING cost (per-file footer fetch); at scale
    * the merged schema comes from a catalog/metastore and this option
    * stays off — the judged semantics (NULL-filled union schema) are
    * identical either way. */
  val qSourceEvolution: QueryDef = QueryDef.oracle(
    "q_source_evolution",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  COUNT(quality) AS n_scored,
      |  CAST(SUM(quality) AS BIGINT) AS sum_quality
      |FROM (SELECT lang, n_chars,
      |        CASE WHEN doc_id % 2 = 0 THEN NULL
      |             ELSE n_chars % 7 END AS quality
      |      FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    spark.read.option("mergeSchema", "true")
      .parquet(evolvedDocsPath(spark, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        count(col("quality")).as("n_scored"),
        sum(col("quality")).cast("long").as("sum_quality"))
      .orderBy("lang")
  }

  /** Two-batch evolved layout, staged write-once: batch=1 holds the
    * even-doc_id half in the ORIGINAL schema, batch=2 the odd half with
    * the added int `quality` column (n_chars % 7 — deterministic). */
  private[graft] def evolvedDocsPath(
      spark: SparkSession, dir: String): String = {
    graft.Staging.stage("graft_src_docs_evo_parquet", dir) { tmp =>
      val docs = Tables(spark, dir).documents
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("batch=1").toString)
      docs.filter(col("doc_id") % 2 === 1)
        .withColumn("quality", (col("n_chars") % 7).cast("int"))
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("batch=2").toString)
    }
  }

  val all: Seq[QueryDef] =
    Seq(qSourceCsvJson, qSourceOrc, qJoinDpp, qLayoutZorder, qLayoutCompact,
      qSourceEvolution)
}
