package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Aggregation catalog: distinct, approximate-distinct (HLL++),
  * cube/rollup/grouping sets, statistical aggregates, conditional
  * aggregation, and ordered collect. Reference analog: pyPiper's only
  * aggregation device is `batch_size=BATCH_SIZE_ALL` handing the whole
  * stream to user code (SURVEY.md §2.A op #6) — which cannot scale; every
  * operator here is a partial+final hash aggregate Catalyst parallelizes
  * per-partition before one tiny shuffle.
  */
object Aggregates {
  import Num._

  /** COUNT(DISTINCT) — expands to a two-phase aggregate (distinct keys
    * shuffled once, then counted). Multiple distincts in one query use
    * Spark's `Expand` rewrite. */
  val qAggDistinct: QueryDef = QueryDef.oracle(
    "q_agg_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** HLL++ approximate distinct. At 100 TB this is the only viable
    * distinct-cardinality path (fixed-size sketch, no key shuffle).
    * DRIVER-CHECKED since round 12 (was rows-only): DuckDB's approx
    * sketch is a different implementation so the raw estimate can never
    * hash-match, but the estimate's CLAIM can — the judged row carries
    * the exact count plus `est_within_10pct`, the 5σ bound the HLL++
    * estimate must satisfy; the oracle computes the exact side and
    * asserts the boolean TRUE, so an out-of-tolerance sketch fails the
    * driver compare. The judged bound is 10% = 5σ of the requested
    * rsd 0.02 — it tests sketch BROKENNESS (wrong algebra, lost
    * partials), not statistical luck, so a fresh corpus draw can't flip
    * a healthy sketch red; AggregatesSpec pins the tighter 5%
    * observed-behavior bound with the raw estimate visible. */
  val qAggApproxDistinct: QueryDef = QueryDef.oracle(
    "q_agg_approx_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS est_within_10pct
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.10).as("est_within_10pct"))
      .orderBy("l_returnflag")
  }

  /** CUBE over two keys: all 4 grouping combinations in one pass via
    * Catalyst's Expand (no re-scan per grouping set). NULL markers mapped
    * to 'ALL' (data cols are never null here). */
  val qAggCube: QueryDef = QueryDef.oracle(
    "q_agg_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")
  }

  /** ROLLUP over (year, status): hierarchical subtotals. */
  val qAggRollup: QueryDef = QueryDef.oracle(
    "q_agg_rollup",
    """SELECT COALESCE(CAST(o_year AS VARCHAR), 'ALL') AS yr,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue, COUNT(*) AS n
      |FROM (SELECT year(o_orderdate) AS o_year, o_orderstatus, o_totalprice FROM orders)
      |GROUP BY ROLLUP (o_year, o_orderstatus) ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).orders
      .select(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"), col("o_totalprice"))
      .rollup("o_year", "o_orderstatus")
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_year").cast("string"), lit("ALL")).as("yr"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("revenue"), col("n"))
      .orderBy("yr", "status")
  }

  /** Explicit GROUPING SETS — the general form of cube/rollup. */
  val qAggGroupingSets: QueryDef = QueryDef.oracle(
    "q_agg_grouping_sets",
    """SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
      |  COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nk,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS sum_bal
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).customer.createOrReplaceTempView("customer")
    spark.sql(
      """SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
        |  COALESCE(CAST(c_nationkey AS STRING), 'ALL') AS nk,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS sum_bal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY 1, 2""".stripMargin)
  }

  /** Statistical aggregates: stddev/variance/correlation/exact median.
    * Rounded to 4 dp — interiors are iteration-order dependent in both
    * engines (SURVEY.md §7 hard part 2). */
  val qAggStats: QueryDef = QueryDef.oracle(
    "q_agg_stats",
    """SELECT l_returnflag,
      |  ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
      |  ROUND(var_samp(l_quantity), 4) AS var_qty,
      |  ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        r4(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy("l_returnflag")
  }

  /** Conditional aggregation (filtered counts / case-when sums) — one
    * scan, no joins, the idiomatic replacement for fan-out-then-merge
    * pipelines. */
  val qAggConditional: QueryDef = QueryDef.oracle(
    "q_agg_conditional",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
      |  CAST(SUM(CAST(CASE WHEN o_totalprice > 150000 THEN o_totalprice ELSE 0 END
      |       AS DECIMAL(30,6))) AS DOUBLE) AS high_rev,
      |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END
      |       AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS open_rev_per_order
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        dsum(when(col("o_totalprice") > 150000, col("o_totalprice")).otherwise(0)).as("high_rev"),
        (sum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(0)
          .cast("decimal(30,6)")).cast("double") / count(lit(1))).as("open_rev_per_order"))
      .orderBy("o_orderpriority")
  }

  /** Ordered collect: deterministic array aggregation (sorted set). The
    * collected array is joined to one string column for the dump — the
    * driver's pandas-side compare can't sort raw array cells (round-1
    * `err: unhashable type: numpy.ndarray`), and a delimiter-joined string
    * carries identical information for the hash. */
  val qAggCollect: QueryDef = QueryDef.oracle(
    "q_agg_collect",
    """SELECT lang, array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).documents
      .groupBy("lang")
      .agg(
        array_join(sort_array(collect_set(col("source"))), ",").as("sources"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** UNPIVOT (melt) — the inverse of q_agg_pivot: three measure columns
    * folded into (measure, value) rows, then re-aggregated per measure.
    * Spark's `unpivot` is a zero-shuffle Expand at the scan (each input
    * row emits k rows map-side); the only exchange is the final
    * aggregation's. */
  val qAggUnpivot: QueryDef = QueryDef.oracle(
    "q_agg_unpivot",
    """SELECT l_returnflag, measure, COUNT(*) AS n,
      |  CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
      |FROM (SELECT l_returnflag, l_quantity, l_discount, l_tax FROM lineitem)
      |UNPIVOT (v FOR measure IN (l_quantity, l_discount, l_tax))
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_quantity"), col("l_discount"),
        col("l_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "v")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"), dsum(col("v")).as("sum_v"))
      .orderBy("l_returnflag", "measure")
  }

  /** EXACT interpolated percentiles (median/quartile/p90) per group —
    * `percentile()` sorts each group's values and interpolates at rank
    * p·(n−1), the same rank definition DuckDB's `quantile_cont` uses.
    * The interpolation FORMULAS differ: Spark's PercentileBase computes
    * the weighted form (hi−pos)·lower + (pos−lo)·higher (two multiplies
    * + add), DuckDB lerps lower + (higher−lower)·frac — algebraically
    * equal, not structurally IEEE-identical. The bit-for-bit hash match
    * is therefore EMPIRICAL (verified at all three sf: these order
    * statistics and fractions happen to combine exactly), not guaranteed
    * for arbitrary data; a mismatch would indicate nothing deeper than
    * one ulp of formula divergence. Exact percentiles shuffle the
    * group's values once and
    * sort per group — fine when groups fit an executor (the case here:
    * values are one column, not rows). At 100 TB with huge groups the
    * scale path is `approx_percentile` (t-digest-style sketch,
    * partial+final mergeable, bounded memory) — spec-bounded rather than
    * judged because its sketch is engine-specific, exactly like
    * approx_count_distinct above. */
  val qAggPercentile: QueryDef = QueryDef.oracle(
    "q_agg_percentile",
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS p90,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS price_p50
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity").cast("double"), lit(0.25)).as("p25"),
        percentile(col("l_quantity").cast("double"), lit(0.5)).as("p50"),
        percentile(col("l_quantity").cast("double"), lit(0.9)).as("p90"),
        percentile(col("l_extendedprice").cast("double"), lit(0.5))
          .as("price_p50"))
      .orderBy("l_returnflag")
  }

  /** PERSISTED mergeable distinct-count sketches — the incremental-stats
    * pattern of a 100 TB lake: each ingest window writes a fixed-size
    * Apache DataSketches HLL sketch of its keys (here: per order-month,
    * staged write-once as a binary-column parquet table), and ANY later
    * rollup — total, year, rolling window — merges SKETCHES without ever
    * rescanning the raw data (`hll_union_agg`), exactly how
    * cross-snapshot distinct counts stay O(sketch) instead of O(data).
    * HLL ingestion is order-independent (per-bucket max of hashed
    * values), so estimates are deterministic at any parallelism — but
    * engine-specific, so the raw estimate can't hash-match DuckDB.
    * DRIVER-CHECKED since round 12 via the bound-boolean scheme
    * (q_agg_approx_distinct): the judged row is (scope, exact_custs,
    * est_within_8pct) — the exact leg is a one-off audit scan that
    * exists ONLY to make the sketch estimate falsifiable by the driver
    * (a production lake runs the same spot-audit periodically); the
    * sketch rollup itself still never touches raw data. The judged
    * bound is 8% = ~5σ of lgK=12's ~1.6% RSE (brokenness test, not a
    * statistical coin-flip on a fresh corpus); AggregatesSpec pins the
    * observed ≤2% plus sketch-merge ≡ direct-sketch equality. */
  val qAggSketchUnion: QueryDef = QueryDef.oracle(
    "q_agg_sketch_union",
    """SELECT scope, exact_custs, TRUE AS est_within_8pct FROM (
      |  SELECT strftime(o_orderdate, '%Y') AS scope,
      |    COUNT(DISTINCT o_custkey) AS exact_custs FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT 'TOTAL', COUNT(DISTINCT o_custkey) FROM orders)
      |ORDER BY scope""".stripMargin,
  ) { (spark, dir) =>
    val sk = Tables.parquet(spark, monthlySketchPath(spark, dir))
    // day-2 economics: per-year AND global rollups from the same tiny
    // sketch table — two scans of O(months) rows, zero raw-data reads
    val byYear = sk
      .groupBy(substring(col("o_month"), 1, 4).as("scope"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_custs"))
    val total = sk
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_custs"))
      .select(lit("TOTAL").as("scope"), col("est_custs"))
    val est = byYear.unionAll(total)
    val orders = Tables(spark, dir).orders
    val exactYear = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("scope"))
      .agg(countDistinct(col("o_custkey")).as("exact_custs"))
    val exactTotal = orders
      .agg(countDistinct(col("o_custkey")).as("exact_custs"))
      .select(lit("TOTAL").as("scope"), col("exact_custs"))
    est.join(exactYear.unionAll(exactTotal), "scope")
      .select(col("scope"), col("exact_custs"),
        (abs(col("est_custs") - col("exact_custs"))
          <= col("exact_custs") * 0.08).as("est_within_8pct"))
      .orderBy("scope")
  }

  /** Write-once staging of the per-month HLL sketch table (binary sketch
    * per month — the maintained artifact a real lake updates per ingest
    * window). Shared with AggregatesSpec. */
  private[graft] def monthlySketchPath(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    // content-fingerprinted path (graft.Staging): regenerated testdata →
    // fresh fingerprint → restage, so a rows-only query can never serve
    // sketches of a dataset that no longer exists
    graft.Staging.stage("graft_sketch_orders_month", dir) { tmp =>
      Tables(spark, dir).orders
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sketch"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** MERGEABLE QUANTILE SKETCH union — percentiles with the
    * q_agg_sketch_union staged-rollup economics ([[graft.functions
    * .QuantileHistAgg]]): stage 1 builds one fixed-boundary histogram
    * sketch per (flag, linenumber) shard through the UDAF's
    * partial+final update path; stage 2 UNIONS the shard sketches per
    * flag through the dedicated union aggregate (exact integer vector
    * addition — associative and parallelism-invariant, which is what a
    * GK/t-digest-class sketch cannot offer a hash-checked pipeline);
    * the readout picks p50/p95/p99 as the smallest bucket whose
    * cumulative count reaches ⌈q·n⌉ — exact integer arithmetic the
    * oracle states verbatim over the same histogram definition.
    *
    * Scale shape: raw data is touched exactly once (stage 1, map-side
    * partials); everything after is config-sized — 32 KB vectors per
    * shard, a union shuffle of O(shards) rows, a cumulative window
    * over ≤ 4096-row groups. At 100 TB the shard sketches are the
    * persisted nightly artifact and day-2 percentile reads run stage 2
    * alone — the HDR-histogram operational pattern.
    * AggregatesSpec pins merge associativity/commutativity directly
    * and parallelism-invariance of the whole pipeline. */
  val qAggQuantileSketch: QueryDef = QueryDef.oracle(
    "q_agg_quantile_sketch",
    """WITH b AS (
      |  SELECT l_returnflag AS scope,
      |    LEAST(4095, GREATEST(0,
      |      CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 32) AS BIGINT)))
      |      AS bucket
      |  FROM lineitem),
      |h AS (SELECT scope, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |cum AS (
      |  SELECT scope, bucket, c,
      |    SUM(c) OVER (PARTITION BY scope ORDER BY bucket) AS cum,
      |    SUM(c) OVER (PARTITION BY scope) AS n
      |  FROM h)
      |SELECT scope, CAST(MAX(n) AS BIGINT) AS n_rows,
      |  CAST(MIN(CASE WHEN 100 * cum >= 50 * n THEN bucket END) * 32
      |    AS BIGINT) AS p50,
      |  CAST(MIN(CASE WHEN 100 * cum >= 95 * n THEN bucket END) * 32
      |    AS BIGINT) AS p95,
      |  CAST(MIN(CASE WHEN 100 * cum >= 99 * n THEN bucket END) * 32
      |    AS BIGINT) AS p99
      |FROM cum GROUP BY scope ORDER BY scope""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val li = Tables(spark, dir).lineitem
      .select(col("l_returnflag").as("scope"), col("l_linenumber"),
        col("l_extendedprice").cast("double").as("v"))
    val shards = li.groupBy("scope", "l_linenumber")
      .agg(graft.functions.QuantileHistAgg.sketch(col("v")).as("sk"))
    val merged = shards.groupBy("scope")
      .agg(graft.functions.QuantileHistAgg.union(col("sk")).as("sk"))
    val hist = merged
      .select(col("scope"), posexplode(col("sk")).as(Seq("bucket", "c")))
      .filter(col("c") > 0)
    def q(p: Int) =
      (min(when(col("cum") * 100 >= col("n") * p, col("bucket"))) * 32)
        .cast("long").as(s"p$p")
    hist
      .withColumn("cum",
        sum("c").over(Window.partitionBy("scope").orderBy("bucket")))
      .withColumn("n", sum("c").over(Window.partitionBy("scope")))
      .groupBy("scope")
      .agg(max("n").as("n_rows"), q(50), q(95), q(99))
      .orderBy("scope")
  }

  val all: Seq[QueryDef] = Seq(
    qAggDistinct, qAggApproxDistinct, qAggCube, qAggRollup, qAggGroupingSets,
    qAggStats, qAggConditional, qAggCollect, qAggUnpivot, qAggPercentile,
    qAggSketchUnion, qAggQuantileSketch)
}
