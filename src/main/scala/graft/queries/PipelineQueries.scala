package graft.queries

import graft.Tables
import graft.pipeline.{Node, Pipeline}
import org.apache.spark.sql.functions._

/** Judged queries expressed through the pyPiper-shaped facade
  * (graft.pipeline), proving the composition API produces the same
  * Catalyst plans — and therefore the same results and the same pushdown
  * behavior — as direct DataFrame code. */
object PipelineQueries {
  import Num._

  /** Chain: source | filter | transform | aggregate — the canonical
    * pyPiper linear pipeline, lazily composed. */
  val qPipeChain: QueryDef = QueryDef.oracle(
    "q_pipe_chain",
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_quantity > 30
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val graph =
      Node.where("big_qty", col("l_quantity") > 30) |
        Node.transform("revenue")(
          _.withColumn("rev", col("l_extendedprice") * (lit(1) - col("l_discount")))) |
        Node.batchAll("agg")(
          _.groupBy("l_returnflag")
            .agg(dsum(col("rev")).as("revenue"), count(lit(1)).as("n"))
            .orderBy("l_returnflag"))
    Pipeline(Tables(spark, dir).lineitem, graph).outputs("big_qty.revenue.agg")
  }

  /** Fan-out: the orders read feeds two branches (status histogram,
    * priority histogram), merged by UNION ALL — pyPiper's `a | [b, c]`
    * with the merge half it lacks. The upstream is a bare file read, so
    * the facade does not persist it: each branch scans its one column
    * and both run in the union's plan. */
  val qPipeFanout: QueryDef = QueryDef.oracle(
    "q_pipe_fanout",
    """SELECT * FROM (
      |  SELECT 'status' AS branch, o_orderstatus AS k, COUNT(*) AS n FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'priority' AS branch, o_orderpriority AS k, COUNT(*) AS n FROM orders GROUP BY 2
      |) ORDER BY branch, k""".stripMargin,
  ) { (spark, dir) =>
    val byStatus = Node.batchAll("by_status")(
      _.groupBy(col("o_orderstatus").as("k")).agg(count(lit(1)).as("n"))
        .select(lit("status").as("branch"), col("k"), col("n")))
    val byPriority = Node.batchAll("by_priority")(
      _.groupBy(col("o_orderpriority").as("k")).agg(count(lit(1)).as("n"))
        .select(lit("priority").as("branch"), col("k"), col("n")))
    val outs = Pipeline(Tables(spark, dir).orders,
      Node.streams("all", "*") | Seq(byStatus, byPriority)).outputs
    outs("all.by_status").unionByName(outs("all.by_priority"))
      .orderBy("branch", "k")
  }

  /** Flagship composition: a complete training-data curation pipeline —
    * per-doc token stats → quality gate (length + type/token ratio) →
    * keep-first exact dedup → per-source corpus stats — written as one
    * facade graph. Lands in a single Catalyst plan: one scan of
    * documents, one shuffle on doc_id (token stats), one on text (dedup
    * window), one on source (final rollup); every stage's filter pushes
    * as far down as its inputs allow. At 100 TB this is exactly the
    * curation pass an LLM corpus runs, with no driver-side step. */
  val qPipeTrainingData: QueryDef = QueryDef.oracle(
    "q_pipe_training_data",
    """WITH tok AS (
      |  SELECT doc_id, source, text, n_chars,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
      |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_uniq
      |  FROM documents),
      |q AS (SELECT * FROM tok
      |      WHERE n_chars BETWEEN 100 AND 1000 AND 10 * n_uniq >= 2 * n_tok),
      |d AS (SELECT * FROM q
      |      QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      |  MAX(n_tok) AS max_tok
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = graft.functions.GraftFunctions.graftTokens(col("text"))
    val graph =
      // per-doc token stats are PER-ROW expressions (size / array_distinct
      // over the split array, all codegen'd) — the explode+groupBy
      // formulation shuffled the full document text once PER TOKEN plus a
      // countDistinct expand, ~5 GB of shuffle at sf0.1 for numbers a
      // narrow projection computes in place
      Node.transform("tok_stats")(_
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
          size(toks).cast("long").as("n_tok"),
          size(array_distinct(toks)).cast("long").as("n_uniq"))) |
      Node.where("quality_gate", col("n_chars").between(100, 1000)
        && col("n_uniq") * 10 >= col("n_tok") * 2) |
      Node.transform("dedup_keep_first")(_
        .withColumn("rn", row_number().over(
          Window.partitionBy("text").orderBy("doc_id")))
        .filter(col("rn") === 1).drop("rn")) |
      Node.batchAll("by_source")(_
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
          max(col("n_tok")).as("max_tok"))
        .orderBy("source"))
    Pipeline(Tables(spark, dir).documents, graph)
      .outputs("tok_stats.quality_gate.dedup_keep_first.by_source")
  }

  /** Micro-batch node (op #5, pyPiper batch_size) as a JUDGED entry: an
    * even-line gate runs batch-wise over per-partition groups of ≤512
    * rows through `Node.batch`. The gate is elementwise, so the result
    * is independent of batch and partition placement (the invariance
    * PipelineSpec pins) — which is exactly what makes it
    * oracle-expressible. */
  val qPipeBatch: QueryDef = QueryDef.oracle(
    "q_pipe_batch",
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_linenumber % 2 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val li = Tables(spark, dir).lineitem
    val graph =
      Node.where("hi_qty", col("l_quantity") > 45) |
        Node.batch("even_lines", 512)(rows =>
          rows.filter(r => r.getAs[Number]("l_linenumber").longValue % 2 == 0)) |
        Node.batchAll("agg")(_
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag"))
    Pipeline(li, graph).outputs("hi_qty.even_lines.agg")
  }

  /** Plan display (op #14, `print(pipeline)`) as a JUDGED entry — the
    * DAG rendering, the resolved leaf paths, and a normalized logical-
    * plan operator chain for one leaf, emitted as rows and hash-checked
    * against their expected literals. The facade string proves the
    * composition operators render structurally (`a | b | [c, d]`); the
    * operator chain proves what the facade COMPILES TO — one declarative
    * Catalyst plan (sort ← aggregate ← project ← filter ← scan), with
    * the filter visibly below the projection where pushdown starts. The
    * chain is normalized through our own mapping (leaf nodes → "Scan"),
    * so the string is a stable contract of THIS library, not of Spark's
    * toString. Nothing here executes: the pipeline is composed, never
    * run — display is a pure function of the graph. */
  val qPlanDisplay: QueryDef = QueryDef.oracle(
    "q_plan_display",
    """SELECT * FROM (VALUES
      |  ('dag', 'source | quality | tokens | [by_lang, by_source]'),
      |  ('leaves', 'quality.tokens.by_lang, quality.tokens.by_source'),
      |  ('plan:by_lang', 'Sort <- Aggregate <- Project <- Filter <- Scan')
      |) t(kind, display) ORDER BY kind""".stripMargin,
  ) { (spark, dir) =>
    import spark.implicits._
    val graph =
      Node.where("quality", col("n_chars") >= 100) |
        Node.transform("tokens")(
          _.withColumn("n_tok", size(split(col("text"), " ")))) |
        Seq(
          Node.batchAll("by_lang")(
            _.groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")),
          Node.batchAll("by_source")(
            _.groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")))
    // documentsRaw: this query's RESULT is the analyzed plan chain —
    // the compute-dense guard's Repartition would change the ANSWER
    // (oracle-pinned), not just the physics, so the display pipeline
    // reads the unguarded table (round 20)
    val pipe = Pipeline(Tables(spark, dir).documentsRaw, graph)
    val ctx = Node.Ctx()
    val outs = try pipe.graph.run(pipe.source, ctx) finally ctx.unpersistAll()
    val chain = outs("quality.tokens.by_lang").queryExecution.analyzed.collect {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => "Scan"
      case n => n.nodeName
    }.mkString(" <- ")
    Seq(
      ("dag", pipe.describe),
      ("leaves", outs.keys.toSeq.sorted.mkString(", ")),
      ("plan:by_lang", chain))
      .toDF("kind", "display").orderBy("kind")
  }

  /** Round-7 composition: the NEW curation operators chained through the
    * facade — PII redaction → token stats on the CLEAN text → keep-first
    * exact dedup → offset sequence packing → per-source rollup. One
    * facade graph, one Catalyst plan: a single scan (three codegen regex
    * passes ride on it), a dedup window on text, a per-source
    * prefix-sum window for packing, one final rollup shuffle. The
    * planted-PII construction and the redaction chain are the SAME
    * shared definitions q_text_pii_redact uses, rendered once for Spark
    * and once for DuckDB. Packing uses the streaming-friendly closed
    * form (bin = tokens-before div budget — see packSequencesByOffset),
    * which is window algebra both engines state identically. */
  val qPipeCurate: QueryDef = QueryDef.oracle(
    "q_pipe_curate",
    s"""WITH c AS (
      |  SELECT doc_id, source,
      |    ${Curation.redactPiiSql(s"(${Curation.plantedPiiSql})")} AS text2
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, source, text2,
      |    len(list_filter(string_split(text2, ' '), x -> x <> '')) AS n_tok
      |  FROM c),
      |d AS (SELECT * FROM t
      |      QUALIFY row_number() OVER (PARTITION BY text2 ORDER BY doc_id) = 1),
      |k AS (
      |  SELECT doc_id, source, n_tok,
      |    COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) // 256 AS bin
      |  FROM d)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      |  CAST(MAX(bin) + 1 AS BIGINT) AS n_seqs
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks2 = graft.functions.GraftFunctions.graftTokens(col("text2"))
    val packW = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val graph =
      Node.transform("redact_pii")(_
        .select(col("doc_id"), col("source"),
          Curation.redactPii(Curation.plantedPiiCol).as("text2"))) |
      Node.transform("tok_stats")(_
        .withColumn("n_tok", size(toks2).cast("long"))) |
      Node.transform("dedup_keep_first")(_
        .withColumn("rn", row_number().over(
          Window.partitionBy("text2").orderBy("doc_id")))
        .filter(col("rn") === 1).drop("rn")) |
      Node.transform("pack_offsets")(_
        .withColumn("before", coalesce(sum(col("n_tok")).over(packW), lit(0L)))
        .withColumn("bin", expr("before div 256"))
        .drop("before")) |
      Node.batchAll("by_source")(_
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
          (max(col("bin")) + 1).as("n_seqs"))
        .orderBy("source"))
    Pipeline(Tables(spark, dir).documents, graph)
      .outputs("redact_pii.tok_stats.dedup_keep_first.pack_offsets.by_source")
  }

  val all: Seq[QueryDef] =
    Seq(qPipeChain, qPipeFanout, qPipeTrainingData, qPipeBatch, qPlanDisplay,
      qPipeCurate)
}
