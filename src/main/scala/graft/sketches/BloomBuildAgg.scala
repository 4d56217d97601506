package graft.sketches

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/**
 * Distributed Bloom-filter construction as a Catalyst aggregate.
 *
 * `bloom_agg(col, expectedItems, fpp)` builds one
 * [[org.apache.spark.util.sketch.BloomFilter]] per partition (map-side
 * partial aggregation), merges them via bitwise OR (`mergeInPlace`) at the
 * final aggregation, and returns the serialized filter as `BinaryType`.
 * Because the merge is an exact homomorphism (bit-OR), the result is
 * independent of partitioning — the property that makes the structure
 * distributable (Bloom, CACM 1970).
 *
 * This is the engine's own facade over the public `spark-sketch` classes;
 * it deliberately does not reuse Spark's internal `BloomFilterAggregate`
 * so the surface stays stable across Spark versions (SURVEY.md §7 M1).
 *
 * Capability rebuilt from the reference's Bloom-filter stream-membership
 * stage (reference mount was empty at survey time; semantics per
 * SURVEY.md §2c `[repo-id]`/`[paper:Bloom70]`).
 */
case class BloomBuildAgg(
    child: Expression,
    estimatedItemsExpr: Expression,
    fppExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] with TernaryLike[Expression] {

  def this(child: Expression, estimatedItemsExpr: Expression, fppExpr: Expression) =
    this(child, estimatedItemsExpr, fppExpr, 0, 0)

  private lazy val estimatedItems: Long =
    estimatedItemsExpr.eval().asInstanceOf[Number].longValue()
  private lazy val fpp: Double =
    fppExpr.eval().asInstanceOf[Number].doubleValue()

  override def first: Expression = child
  override def second: Expression = estimatedItemsExpr
  override def third: Expression = fppExpr

  override def checkInputDataTypes(): TypeCheckResult = {
    // the VALUES are checked here too: BloomFilter.create rejects them
    // only inside a task, as a mid-job failure
    def num(e: Expression): Option[Number] = e.eval() match {
      case v: Number => Some(v)
      case _ => None
    }
    if (!estimatedItemsExpr.foldable || !fppExpr.foldable) {
      TypeCheckResult.TypeCheckFailure(
        "bloom_agg expectedItems and fpp must be constants")
    } else if (!num(estimatedItemsExpr).exists(_.longValue() > 0)) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg expectedItems must be a positive integer, got ${estimatedItemsExpr.eval()}")
    } else if (!num(fppExpr).map(_.doubleValue()).exists(p => p > 0 && p < 1)) {
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg fpp must be in (0, 1), got ${fppExpr.eval()}")
    } else child.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType | BinaryType =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"bloom_agg does not support input type ${dt.catalogString}")
    }
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(estimatedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case LongType    => buffer.putLong(v.asInstanceOf[Long])
      case IntegerType => buffer.putLong(v.asInstanceOf[Int].toLong)
      case ShortType   => buffer.putLong(v.asInstanceOf[Short].toLong)
      case ByteType    => buffer.putLong(v.asInstanceOf[Byte].toLong)
      case StringType  => buffer.putBinary(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType  => buffer.putBinary(v.asInstanceOf[Array[Byte]])
      case dt => throw new IllegalStateException(s"unsupported type $dt")
    }
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
    buffer.mergeInPlace(other)
    buffer
  }

  override def eval(buffer: BloomFilter): Any = serialize(buffer)

  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buffer.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BloomBuildAgg =
    copy(child = newFirst, estimatedItemsExpr = newSecond, fppExpr = newThird)
}
