package graft.sketches

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/**
 * Distributed Count-Min-Sketch construction as a Catalyst aggregate.
 *
 * `cms_agg(col, eps, confidence, seed)` maintains one d×w counter matrix
 * per partition (w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉), merged by element-wise
 * addition (`mergeInPlace`) — an exact homomorphism, so the sketch is
 * identical no matter how rows are partitioned (Cormode & Muthukrishnan,
 * J. Algorithms 2005). Result is the serialized sketch as `BinaryType`;
 * point queries via [[CmsEstimate]].
 *
 * Spark ships a built-in `count_min_sketch` SQL aggregate with the same
 * contract; this class exists as the engine's own stable facade (the same
 * serialized format — `CountMinSketch.readFrom` — so the two
 * interoperate) and to carry per-row increments later if needed.
 *
 * Capability rebuilt from the reference's CMS frequency stage
 * (SURVEY.md §2c `[repo-id]`/`[paper:CM05]`; reference mount empty).
 */
case class CmsBuildAgg(
    child: Expression,
    epsExpr: Expression,
    confidenceExpr: Expression,
    seedExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMinSketch] with QuaternaryLike[Expression] {

  def this(child: Expression, eps: Expression, conf: Expression, seed: Expression) =
    this(child, eps, conf, seed, 0, 0)

  private lazy val eps: Double = epsExpr.eval().asInstanceOf[Number].doubleValue()
  private lazy val confidence: Double =
    confidenceExpr.eval().asInstanceOf[Number].doubleValue()
  private lazy val seed: Int = seedExpr.eval().asInstanceOf[Number].intValue()

  override def first: Expression = child
  override def second: Expression = epsExpr
  override def third: Expression = confidenceExpr
  override def fourth: Expression = seedExpr

  override def checkInputDataTypes(): TypeCheckResult = {
    // the VALUES are checked here too: CountMinSketch.create rejects them
    // only inside a task, as a mid-job failure
    def num(e: Expression): Option[Double] = e.eval() match {
      case v: Number => Some(v.doubleValue())
      case _ => None
    }
    if (!epsExpr.foldable || !confidenceExpr.foldable || !seedExpr.foldable) {
      TypeCheckResult.TypeCheckFailure("cms_agg eps/confidence/seed must be constants")
    } else if (!num(epsExpr).exists(_ > 0)) {
      TypeCheckResult.TypeCheckFailure(
        s"cms_agg eps must be positive, got ${epsExpr.eval()}")
    } else if (!num(confidenceExpr).exists(c => c > 0 && c < 1)) {
      TypeCheckResult.TypeCheckFailure(
        s"cms_agg confidence must be in (0, 1), got ${confidenceExpr.eval()}")
    } else child.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType | BinaryType =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"cms_agg does not support input type ${dt.catalogString}")
    }
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_agg"

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(eps, confidence, seed)

  override def update(buffer: CountMinSketch, input: InternalRow): CountMinSketch = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case LongType    => buffer.addLong(v.asInstanceOf[Long])
      case IntegerType => buffer.addLong(v.asInstanceOf[Int].toLong)
      case ShortType   => buffer.addLong(v.asInstanceOf[Short].toLong)
      case ByteType    => buffer.addLong(v.asInstanceOf[Byte].toLong)
      case StringType  => buffer.addBinary(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType  => buffer.addBinary(v.asInstanceOf[Array[Byte]])
      case dt => throw new IllegalStateException(s"unsupported type $dt")
    }
    buffer
  }

  override def merge(buffer: CountMinSketch, other: CountMinSketch): CountMinSketch = {
    buffer.mergeInPlace(other)
    buffer
  }

  override def eval(buffer: CountMinSketch): Any = serialize(buffer)

  override def serialize(buffer: CountMinSketch): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buffer.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): CmsBuildAgg =
    copy(child = newFirst, epsExpr = newSecond,
      confidenceExpr = newThird, seedExpr = newFourth)
}
