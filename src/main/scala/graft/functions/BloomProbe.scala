package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftColumnBridge.{column => exprCol, expression => colExpr}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** The bloom build/probe pair used by every runtime-filter site
  * (q_join_bloom, q_dedup_incremental and its indexed/merged days,
  * q_stream_dedup_snapshot) — defined ONCE (the Scramble discipline:
  * hand-maintained copies of internal-Catalyst plumbing WILL drift on
  * the next Spark upgrade or sizing change).
  *
  * Sizing: the sketch costs what its input costs. A distributed count
  * of the build rows — an upper bound on its distinct keys, so the
  * false-positive rate can only fall below target — is the expected
  * item count, and Spark's own `BloomFilterAggregate` sizing turns it
  * into bits and hash functions (the same bits-per-item rule, and the
  * same `spark.sql.optimizer.runtime.bloomFilter.max*` caps, that
  * `InjectRuntimeFilter` uses). No fixed size: a constant sized for one
  * scale is 60x oversized at sf0.1 and saturates at 100 TB.
  *
  * Build is a distributed partial+final aggregate; only the serialized
  * sketch crosses the driver. The probe carries it BY REFERENCE
  * ([[SketchProbe]]): generated code reads the deserialized filter
  * from the stage's reference array, and the plan string shows a short
  * `bloom(<bits> bits, <k> hashes)` tag — never the bytes, which a
  * `Literal` would hex-format into every explain and AQE re-plan.
  *
  * An EMPTY input yields a null sketch; `mightContain` maps null (and
  * the empty staged-file sentinel) to a literal FALSE — the "nothing is
  * in the set" reading — rather than a tri-valued NULL, which would
  * make BOTH `filter(probe)` and `filter(!probe)` drop every row (a
  * negated probe site, e.g. q_stream_dedup_snapshot's admit-fast path,
  * would silently admit nothing instead of everything). The probe is a
  * codegen expression (never a ScalaUDF — it runs pre-shuffle on the
  * hottest scan, PlanSpec-gated at the join site). */
object BloomProbe {

  /** Distributed sketch of `key`'s values in `df`, sized from the row
    * count of `df`; null when `df` is empty. */
  def sketch(df: DataFrame, key: Column): Array[Byte] =
    sizedSketch(df, key)._1

  /** [[sketch]] plus the item count it was sized for (0 when empty) —
    * what a staged sketch records so a later delta can be built with
    * the same geometry through [[sketchSizedFor]]. */
  def sizedSketch(df: DataFrame, key: Column): (Array[Byte], Long) = {
    val n = df.count()
    (if (n == 0) null else sketchSizedFor(df, key, n), n)
  }

  /** Sketch of `key`'s values in `df` with the geometry (bit width, hash
    * count) of one sized for `items` — union-compatible with it through
    * [[merge]]. Null when `df` is empty. */
  def sketchSizedFor(df: DataFrame, key: Column, items: Long): Array[Byte] =
    df.select(exprCol(new BloomFilterAggregate(
        new XxHash64(Seq(colExpr(key))), items)
      .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** Codegen membership probe of `key` against a serialized sketch;
    * a null or empty sketch (empty build input) is definitionally
    * FALSE. */
  def mightContain(sketchBytes: Array[Byte], key: Column): Column =
    if (sketchBytes == null || sketchBytes.isEmpty)
      org.apache.spark.sql.functions.lit(false)
    else exprCol(SketchProbe(new BloomSketch(sketchBytes),
      new XxHash64(Seq(colExpr(key)))))

  /** Union of two serialized sketches — the nightly index-maintenance
    * operation: a bloom over A ∪ B is the bitwise OR of blooms over A
    * and B when both have the same geometry (build the second with
    * [[sketchSizedFor]] at the first's item count; `mergeInPlace`
    * enforces compatibility). Null/empty operands are the empty-set
    * sketch — the other side passes through. Sketch-sized work, never
    * touches the indexed data. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (a == null || a.isEmpty) return b
    if (b == null || b.isEmpty) return a
    val fa = BloomFilter.readFrom(a)
    fa.mergeInPlace(BloomFilter.readFrom(b))
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }
}

/** A serialized bloom sketch as an expression argument: equal by
  * content, printed by geometry. */
final class BloomSketch(val bytes: Array[Byte]) extends Serializable {
  @transient lazy val filter: BloomFilter = BloomFilter.readFrom(bytes)
  // both serialized versions (V1, V2) lead with (version, hash count)
  private def numHashFunctions: Int = java.nio.ByteBuffer.wrap(bytes).getInt(4)
  @transient private lazy val hash = java.util.Arrays.hashCode(bytes)
  override def hashCode(): Int = hash
  override def equals(o: Any): Boolean = o match {
    case s: BloomSketch => java.util.Arrays.equals(bytes, s.bytes)
    case _ => false
  }
  override def toString: String =
    s"bloom(${filter.bitSize()} bits, $numHashFunctions hashes)"
}

/** `might_contain(sketch, xxhash64(key))` with the sketch held by
  * reference: the same probe as Spark's `BloomFilterMightContain`
  * (which requires a foldable sketch operand — a `Literal` the plan
  * string hex-formats), with the filter handed to generated code
  * through `ctx.addReferenceObj`. A null hash input yields null. */
final case class SketchProbe(sketch: BloomSketch, child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = "might_contain"

  override protected def nullSafeEval(value: Any): Any =
    sketch.filter.mightContainLong(value.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", sketch.filter,
      classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, v => s"$bf.mightContainLong($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): SketchProbe =
    copy(child = newChild)
}
