package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** The pyPiper-shaped composition facade, Spark-first.
  *
  * Reference semantics reproduced (SURVEY.md §2.A): users compose `Node`s
  * with `|` (op #7), fan out with a list operand (op #8), select named
  * streams (op #9), micro-batch (op #5), and execute with
  * `Pipeline(...).run()` (ops #1/#11). Reference mechanics deliberately
  * NOT reproduced: pyPiper pushes one Python object at a time, eagerly,
  * through live node objects — here a Node is a lazy description
  * (`DataFrame => DataFrame`), composition never executes anything, and
  * `run()` just forces Spark actions, so the whole chain lands in one
  * Catalyst plan: filters still push to the scan, transforms fuse into
  * whole-stage codegen, and a 1000-executor cluster parallelizes it
  * without the facade knowing. Fan-out is the one place state can appear:
  * an upstream that computes something (a filter, a derived column, a
  * join) is persisted once so k branches read it once, the Spark analog
  * of pyPiper feeding every successor each record. An upstream that only
  * reads files (a file-source relation, at most renamed or narrowed by
  * projections) is handed to the branches as it is: a copy would hold
  * every column of the table to save no work, while an unpersisted read
  * lets each branch scan only the columns it uses, and the branches
  * still run in one plan when their leaves are combined.
  *
  * Cache lifecycle: every DataFrame a fan-out persists is recorded in the
  * execution's [[Node.Ctx]], and `Pipeline.run()` / `runWith()` unpersist
  * them after the branches materialize, so a long-lived session never
  * accumulates pinned upstreams (each pinned upstream holds storage
  * memory and, once that runs out, evicts other blocks). For upstreams
  * too large for executor memory, build the pipeline with
  * `Pipeline.withStorage(StorageLevel.DISK_ONLY)` (same
  * single-materialization semantics, spill-backed) or checkpoint the
  * upstream before composing.
  */
sealed trait Node {

  /** Apply this (sub)graph to one input, producing one DataFrame per leaf
    * branch, keyed by dot-joined node path. Caller-managed caching: any
    * DataFrames persisted during composition are recorded in `ctx` and
    * are the caller's to unpersist after materializing the leaves
    * (`Pipeline.run()` does this automatically). */
  def run(in: DataFrame, ctx: Node.Ctx = Node.Ctx()): Map[String, DataFrame]

  /** Sequential composition — pyPiper's `a | b`. Piping into a fan-out's
    * result pipes into EVERY open branch. */
  def |(next: Node): Node = Node.Chain(this, next)

  /** Fan-out — pyPiper's `a | [b, c]`: every branch sees every record. */
  def |(branches: Seq[Node]): Node = Node.Chain(this, Node.FanOut(branches))

  /** DAG rendering, the analog of `print(pipeline)`. */
  def describe: String
}

object Node {

  /** Per-execution state: the DataFrames persisted by fan-outs, plus the
    * storage level they persist at. */
  final case class Ctx(
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      persisted: mutable.Buffer[DataFrame] = mutable.Buffer.empty) {
    def unpersistAll(): Unit = {
      persisted.foreach(_.unpersist(blocking = false))
      persisted.clear()
    }
  }

  /** A named 1-input/1-output operator; the `run(data)`+`emit` analog. */
  final case class Op(name: String, f: DataFrame => DataFrame) extends Node {
    def run(in: DataFrame, ctx: Ctx): Map[String, DataFrame] = Map(name -> f(in))
    def describe: String = name
  }

  final case class Chain(up: Node, down: Node) extends Node {
    def run(in: DataFrame, ctx: Ctx): Map[String, DataFrame] =
      up.run(in, ctx).flatMap { case (path, df) =>
        down.run(df, ctx).map { case (p2, d2) => s"$path.$p2" -> d2 }
      }
    def describe: String = s"${up.describe} | ${down.describe}"
  }

  final case class FanOut(branches: Seq[Node]) extends Node {
    def run(in: DataFrame, ctx: Ctx): Map[String, DataFrame] = {
      // a computed upstream is materialized once for k branches (recorded
      // in ctx, so the pipeline unpersists it after the branches run); a
      // file read is passed through, since persisting it would copy the
      // whole table and stop each branch's scan from pruning columns
      val shared =
        if (readsFilesOnly(in.queryExecution.analyzed)) in
        else {
          val cached = in.persist(ctx.storage)
          ctx.persisted += cached
          cached
        }
      val leaves = branches.flatMap(_.run(shared, ctx))
      val paths = leaves.map(_._1)
      val dups = paths.diff(paths.distinct).distinct
      require(dups.isEmpty, "fan-out branches share the leaf path " +
        dups.mkString("'", "', '", "'") + "; sibling leaves need distinct names")
      leaves.toMap
    }
    def describe: String = branches.map(_.describe).mkString("[", ", ", "]")
  }

  /** True when `plan` only reads files: a file-source relation under
    * projections that select or rename its columns and compute nothing. */
  private def readsFilesOnly(plan: LogicalPlan): Boolean = plan match {
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case Project(cols, child) =>
      cols.forall {
        case _: Attribute | Alias(_: Attribute, _) => true
        case _ => false
      } && readsFilesOnly(child)
    case _ => false
  }

  // ---- constructors mirroring the reference's node vocabulary ----

  /** Arbitrary transform (op #2 generalized). */
  def transform(name: String)(f: DataFrame => DataFrame): Node = Op(name, f)

  /** Filter node (op #4). */
  def where(name: String, cond: Column): Node = Op(name, _.filter(cond))

  /** Projection / named-stream emission (op #9, out_streams). */
  def select(name: String, cols: Column*): Node = Op(name, _.select(cols: _*))

  /** Named-stream subscription (op #9, in_streams); "*" = everything. */
  def streams(name: String, streams: String*): Node = Op(name,
    df => if (streams.contains("*")) df else df.select(streams.map(df.col): _*))

  /** 1→N transform via explode (op #3). */
  def flatten(name: String, c: Column, as: String): Node =
    Op(name, _.withColumn(as, org.apache.spark.sql.functions.explode(c)))

  /** Micro-batch (op #5): hand `f` lists of up to `k` rows. Scalable
    * deviation from the reference: batches are PER PARTITION (pyPiper's
    * global batching serializes the stream — at 100 TB that is the
    * definition of a driver bottleneck). `f` must preserve the schema. */
  def batch(name: String, k: Int)(f: Seq[Row] => Seq[Row]): Node = Op(name,
    df => df.mapPartitions(it => it.grouped(k).flatMap(f))(
      Encoders.row(df.schema)))

  /** Global batch (op #6, BATCH_SIZE_ALL) — expressed as what it really
    * is at scale: a full-input aggregation, not a driver collect. */
  def batchAll(name: String)(agg: DataFrame => DataFrame): Node = Op(name, agg)
}

/** The executable graph — `Pipeline(source, graph).run()` is the analog of
  * `pyPiper.Pipeline(graph).run()`: the only eager step. Termination/EOS
  * (op #11) is inherent: bounded inputs end.
  *
  * @param storage persistence level for computed fan-out upstreams
  *                (MEMORY_AND_DISK default; DISK_ONLY for upstreams
  *                larger than executor memory). File reads are never
  *                persisted. */
final case class Pipeline(source: DataFrame, graph: Node,
    storage: StorageLevel = StorageLevel.MEMORY_AND_DISK) {

  /** Lazily-composed leaves: leaf-name → DataFrame. Fan-out upstreams
    * stay persisted for the caller to consume (and unpersist) — prefer
    * [[run]]/[[runWith]], which scope the cache automatically. */
  def outputs: Map[String, DataFrame] = graph.run(source, Node.Ctx(storage))

  /** Run every leaf to completion, returning row counts — the minimal
    * sink action (op #10). Fan-out upstreams are unpersisted on exit. */
  def run(): Map[String, Long] = runWith(_.count())

  /** Materialize every leaf with `action` (write, collect, count…),
    * then release every upstream the execution persisted. */
  def runWith[A](action: DataFrame => A): Map[String, A] = {
    val ctx = Node.Ctx(storage)
    try graph.run(source, ctx).map { case (k, df) => k -> action(df) }
    finally ctx.unpersistAll()
  }

  def describe: String = s"source | ${graph.describe}"
}

object Pipeline {
  /** Pipeline whose fan-out upstreams spill to disk only — for shared
    * intermediates larger than executor memory. */
  def withStorage(source: DataFrame, graph: Node, level: StorageLevel): Pipeline =
    Pipeline(source, graph, level)
}
