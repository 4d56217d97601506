package graft.sketches

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/**
 * Shared plumbing for scalar probes over a serialized sketch column.
 *
 * The sketch argument is usually query-constant: a literal, or a scalar
 * subquery, which Spark inlines into the generated code as a literal —
 * one array object per task. Each expression instance keeps a one-entry
 * deserialization cache keyed by array identity, so repeated probes
 * against that array pay a single `readFrom`. A sketch joined from a
 * one-row side would instead be a column: every row reads it through
 * `UnsafeRow.getBinary`, a fresh copy of the whole sketch, which misses
 * on identity and costs a full content compare (O(sketch size) per row)
 * before it hits; [[graft.plans.OneRowSketchJoinRule]] rewrites that
 * join to a scalar subquery. When the column genuinely varies per row
 * (e.g. one sketch per group, joined on the group key), the content
 * compare keeps rows of one group from re-deserializing, and a change
 * of sketch deserializes again — still correct, just slower.
 *
 * Both probes generate code (no `CodegenFallback`), so a
 * `filter(bloom_might_contain(...))` stays inside whole-stage codegen —
 * this is the hot path when a 100 TB fact scan is pre-filtered by a
 * dimension-side Bloom filter.
 */
trait SketchProbe { self: BinaryExpression =>
  protected def valueExpr: Expression

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(s"$prettyName sketch argument must be BINARY")
    } else valueExpr.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName does not support probe type ${dt.catalogString}")
    }
  }

  /** Java snippet turning the evaluated probe child into the right call. */
  protected def genProbeCall(ref: String, sk: String, v: String): String =
    valueExpr.dataType match {
      case LongType                       => s"$ref.probeLong($sk, $v)"
      case IntegerType | ShortType | ByteType => s"$ref.probeLong($sk, (long)$v)"
      case StringType                     => s"$ref.probeBinary($sk, $v.getBytes())"
      case dt => throw new IllegalStateException(s"unsupported probe type $dt")
    }

  protected def probeAny(bytes: Array[Byte], v: Any): Any = valueExpr.dataType match {
    case LongType    => probeLong(bytes, v.asInstanceOf[Long])
    case IntegerType => probeLong(bytes, v.asInstanceOf[Int].toLong)
    case ShortType   => probeLong(bytes, v.asInstanceOf[Short].toLong)
    case ByteType    => probeLong(bytes, v.asInstanceOf[Byte].toLong)
    case StringType  => probeBinary(bytes, v.asInstanceOf[UTF8String].getBytes)
    case dt => throw new IllegalStateException(s"unsupported probe type $dt")
  }

  def probeLong(sketchBytes: Array[Byte], v: Long): Any
  def probeBinary(sketchBytes: Array[Byte], v: Array[Byte]): Any
}

/**
 * `bloom_might_contain(sketch, value)` — set-membership probe with no
 * false negatives (Bloom, CACM 1970). Rebuilds the reference's
 * stream-filtering primitive (SURVEY.md §2c) as a first-class Catalyst
 * expression.
 */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression with SketchProbe {

  protected def valueExpr: Expression = right
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedFilter: BloomFilter = _

  private def filterFor(bytes: Array[Byte]): BloomFilter = {
    if ((bytes ne cachedBytes) &&
        (cachedBytes == null || !java.util.Arrays.equals(bytes, cachedBytes))) {
      cachedBytes = bytes
      cachedFilter = BloomFilter.readFrom(bytes)
    }
    cachedFilter
  }

  override def probeLong(sketchBytes: Array[Byte], v: Long): Any =
    filterFor(sketchBytes).mightContainLong(v)
  override def probeBinary(sketchBytes: Array[Byte], v: Array[Byte]): Any =
    filterFor(sketchBytes).mightContainBinary(v)

  override def nullSafeEval(sketch: Any, value: Any): Any =
    probeAny(sketch.asInstanceOf[Array[Byte]], value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this, classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (sk, v) =>
      s"${ev.value} = (Boolean) ${genProbeCall(ref, sk, v)};")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/**
 * `cms_estimate(sketch, value)` — Count-Min point frequency query;
 * returns f̂ with f ≤ f̂ ≤ f + ε·N w.p. ≥ 1−δ (Cormode & Muthukrishnan
 * 2005). Rebuilds the reference's per-item frequency query (SURVEY.md
 * §2c). Works against sketches from [[CmsBuildAgg]] or Spark's built-in
 * `count_min_sketch` (same serialized format).
 */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with SketchProbe {

  protected def valueExpr: Expression = right
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedSketch: CountMinSketch = _

  private def sketchFor(bytes: Array[Byte]): CountMinSketch = {
    if ((bytes ne cachedBytes) &&
        (cachedBytes == null || !java.util.Arrays.equals(bytes, cachedBytes))) {
      cachedBytes = bytes
      cachedSketch = CountMinSketch.readFrom(bytes)
    }
    cachedSketch
  }

  override def probeLong(sketchBytes: Array[Byte], v: Long): Any =
    sketchFor(sketchBytes).estimateCount(v)
  override def probeBinary(sketchBytes: Array[Byte], v: Array[Byte]): Any = {
    // CountMinSketch.add(Object) hashes strings via their UTF-8 bytes
    // (addBinary/addString agree), so probing by bytes matches either.
    sketchFor(sketchBytes).estimateCount(v)
  }

  override def nullSafeEval(sketch: Any, value: Any): Any =
    probeAny(sketch.asInstanceOf[Array[Byte]], value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cmsProbe", this, classOf[CmsEstimate].getName)
    nullSafeCodeGen(ctx, ev, (sk, v) =>
      s"${ev.value} = (Long) ${genProbeCall(ref, sk, v)};")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/**
 * `cms_merge(a, b)` / `bloom_merge(a, b)` scalar merges are provided via
 * [[graft.Graft]] column helpers; cross-partition merging happens inside
 * the aggregates themselves (`mergeInPlace` in partial+final agg).
 */
