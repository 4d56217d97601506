package graft.sketches

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo Filter:
 * Practically Better Than Bloom", CoNEXT 2014) — the sketch-family
 * member the Bloom filter cannot be: an approximate-membership
 * structure that supports DELETION (and usually beats Bloom on space
 * at fpp ≤ 3%). A takedown/right-to-erasure pipeline (q_takedown_delete)
 * that maintains a membership pre-filter needs deletions to keep the
 * filter in sync without rebuilding it over the full corpus.
 *
 * Partial-key cuckoo hashing: each item stores an 8-bit nonzero
 * fingerprint in one of two buckets, i1 = h(x) mod m and
 * i2 = i1 XOR g(fp) (m a power of two), 4 slots per bucket. Because i2
 * is computable from (i1, fp) alone, an entry can be relocated — or
 * MERGED from another filter's table — without the original key, which
 * is what makes the structure distributable: merge re-inserts the other
 * table's (bucket, fp) entries, and every relocation keeps an entry in
 * its two legal buckets. The bucket LAYOUT therefore depends on
 * insertion order, but the MEMBERSHIP answer does not (CuckooSpec pins
 * partition-independence of every probe). Deletion removes one copy of
 * the fingerprint from the probed item's bucket pair; as in the paper,
 * deleting an item is safe only for items actually inserted, and an
 * item sharing both (bucket-pair, fp) with a deleted one keeps
 * answering present — the honest semantic boundary, pinned in the spec.
 *
 * Capacity: `m` buckets × 4 slots. Inserts that overflow the eviction
 * budget increment `nDropped` (a dropped entry would mean false
 * negatives); builders size m so nDropped stays 0 and the spec asserts
 * it.
 */
object CuckooTable {
  val SlotsPerBucket = 4
  val MaxKicks = 500

  def itemHashLong(v: Long): Long = XXH64.hashLong(v, 42L)
  def itemHashBytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 42L)

  def fingerprint(h: Long): Byte = {
    val f = ((h >>> 32) & 0xffL).toInt
    (if (f == 0) 1 else f).toByte
  }

  /** g(fp): bucket displacement of a fingerprint (nonlinear mix). */
  def altDelta(fp: Byte, m: Int): Int =
    (((fp & 0xff) * 0x5bd1e995) & (m - 1))

  def deserialize(bytes: Array[Byte]): CuckooTable = {
    val buf = ByteBuffer.wrap(bytes)
    val m = buf.getInt
    val nItems = buf.getLong
    val nDropped = buf.getLong
    val table = new Array[Byte](m * SlotsPerBucket)
    buf.get(table)
    new CuckooTable(m, table, nItems, nDropped)
  }

  // Per-thread memo of the last deserialized table, keyed by byte-array
  // IDENTITY: the common probe shape is a literal or scalar-subquery
  // sketch, whose byte array is the SAME object for every row a task
  // probes, so without this every row pays an O(m) ByteBuffer copy —
  // the probe would be O(filter size) per row instead of O(1). A sketch
  // read from a joined column is a fresh copy per row and always misses
  // (OneRowSketchJoinRule turns the one-row broadcast join into a scalar
  // subquery for that reason); a sketch that really varies per row
  // deserializes per row. Probes only read the cached table (delete
  // goes through CuckooOps on a fresh deserialize), so sharing it
  // across rows is safe.
  // SoftReference so a long-lived executor thread pool does not pin the
  // last sketch (bytes + decoded table can be MBs) past the query that
  // used it: the JVM clears soft refs under memory pressure, turning the
  // retention into at-worst one extra deserialize after a near-OOM GC.
  private val lastTable =
    new ThreadLocal[java.lang.ref.SoftReference[(Array[Byte], CuckooTable)]]
  private def tableFor(bytes: Array[Byte]): CuckooTable = {
    val ref = lastTable.get()
    val cached = if (ref == null) null else ref.get()
    if (cached != null && (cached._1 eq bytes)) cached._2
    else {
      val t = deserialize(bytes)
      lastTable.set(new java.lang.ref.SoftReference((bytes, t)))
      t
    }
  }

  /** Static probe entry points for generated code. */
  def containsBytesLong(sketch: Array[Byte], v: Long): Boolean =
    tableFor(sketch).contains(itemHashLong(v))
  def containsBytesBinary(sketch: Array[Byte], v: Array[Byte]): Boolean =
    tableFor(sketch).contains(itemHashBytes(v))
}

final class CuckooTable(val m: Int, val table: Array[Byte],
    var nItems: Long, var nDropped: Long) {
  import CuckooTable._
  require((m & (m - 1)) == 0, s"bucket count must be a power of two, got $m")
  private var lcg: Long = 0x9e3779b97f4a7c15L

  def this(m: Int) = this(m, new Array[Byte](m * CuckooTable.SlotsPerBucket), 0L, 0L)

  private def slot(i: Int, s: Int): Int = i * SlotsPerBucket + s

  private def tryPut(i: Int, fp: Byte): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i, s)) == 0) { table(slot(i, s)) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert a fingerprint whose legal buckets are i and i ^ g(fp). */
  def insertAt(i1: Int, fp: Byte): Unit = {
    val i2 = i1 ^ altDelta(fp, m)
    if (tryPut(i1, fp) || tryPut(i2, fp)) { nItems += 1; return }
    // eviction loop (deterministic LCG victim choice)
    var i = i2
    var f = fp
    var kicks = 0
    while (kicks < MaxKicks) {
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      val victim = ((lcg >>> 33) % SlotsPerBucket).toInt
      val old = table(slot(i, victim))
      table(slot(i, victim)) = f
      f = old
      i = i ^ altDelta(f, m)
      if (tryPut(i, f)) { nItems += 1; return }
      kicks += 1
    }
    nDropped += 1 // would introduce false negatives; builders size m to avoid
  }

  def insert(h: Long): Unit = {
    val fp = fingerprint(h)
    insertAt((h & (m - 1)).toInt, fp)
  }

  def contains(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = (h & (m - 1)).toInt
    val i2 = i1 ^ altDelta(fp, m)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i1, s)) == fp || table(slot(i2, s)) == fp) return true
      s += 1
    }
    false
  }

  /** Remove ONE stored copy of the item's fingerprint; true if found. */
  def delete(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = (h & (m - 1)).toInt
    val i2 = i1 ^ altDelta(fp, m)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i1, s)) == fp) {
        table(slot(i1, s)) = 0; nItems -= 1; return true
      }
      s += 1
    }
    s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i2, s)) == fp) {
        table(slot(i2, s)) = 0; nItems -= 1; return true
      }
      s += 1
    }
    false
  }

  /** Merge = re-insert every entry of the other table; (bucket, fp) is
    * all that partial-key cuckoo needs, no original keys required. */
  def mergeInPlace(other: CuckooTable): CuckooTable = {
    require(other.m == m, "cannot merge cuckoo filters of different sizes")
    var i = 0
    while (i < m) {
      var s = 0
      while (s < SlotsPerBucket) {
        val fp = other.table(slot(i, s))
        if (fp != 0) insertAt(i, fp)
        s += 1
      }
      i += 1
    }
    nDropped += other.nDropped
    this
  }

  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 + 8 + table.length)
    buf.putInt(m).putLong(nItems).putLong(nDropped).put(table)
    buf.array()
  }
}

/** `cuckoo_agg(col, m)` — distributed cuckoo-filter build: one table
  * per partition, merged by fingerprint re-insertion. BinaryType out. */
case class CuckooBuildAgg(
    child: Expression,
    bucketsExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CuckooTable] with BinaryLike[Expression] {

  def this(child: Expression, bucketsExpr: Expression) = this(child, bucketsExpr, 0, 0)

  private lazy val m: Int = bucketsExpr.eval().asInstanceOf[Number].intValue()

  override def left: Expression = child
  override def right: Expression = bucketsExpr

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!bucketsExpr.foldable) {
      TypeCheckResult.TypeCheckFailure("cuckoo_agg bucket count must be a constant")
    } else {
      // validate the VALUE at analysis time too: a null / non-positive /
      // non-power-of-two m would otherwise sail through analysis and
      // blow up later on executors (NPE in the Number cast or the
      // CuckooTable require) — fail here with a clean message instead
      val mv = bucketsExpr.eval()
      val mOk = mv match {
        case n: Number =>
          val m = n.longValue()
          m > 0 && m <= Int.MaxValue && (m & (m - 1)) == 0
        case _ => false
      }
      if (!mOk) {
        TypeCheckResult.TypeCheckFailure(
          s"cuckoo_agg bucket count must be a positive power-of-two integer, got $mv")
      } else child.dataType match {
        case LongType | IntegerType | StringType => TypeCheckResult.TypeCheckSuccess
        case dt => TypeCheckResult.TypeCheckFailure(
          s"cuckoo_agg does not support input type ${dt.catalogString}")
      }
    }
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cuckoo_agg"

  override def createAggregationBuffer(): CuckooTable = new CuckooTable(m)

  override def update(buffer: CuckooTable, input: InternalRow): CuckooTable = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case LongType    => buffer.insert(CuckooTable.itemHashLong(v.asInstanceOf[Long]))
      case IntegerType => buffer.insert(CuckooTable.itemHashLong(v.asInstanceOf[Int].toLong))
      case StringType  => buffer.insert(
        CuckooTable.itemHashBytes(v.asInstanceOf[UTF8String].getBytes))
      case dt => throw new IllegalStateException(s"unsupported type $dt")
    }
    buffer
  }

  override def merge(buffer: CuckooTable, other: CuckooTable): CuckooTable =
    buffer.mergeInPlace(other)

  override def eval(buffer: CuckooTable): Any = buffer.serialize()

  override def serialize(buffer: CuckooTable): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): CuckooTable =
    CuckooTable.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CuckooBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CuckooBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CuckooBuildAgg =
    copy(child = newLeft, bucketsExpr = newRight)
}

/** `cuckoo_contains(sketch, v)` — codegen'd membership probe. */
case class CuckooContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure("cuckoo_contains sketch must be BINARY")
    } else right.dataType match {
      case LongType | IntegerType | StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"cuckoo_contains does not support probe type ${dt.catalogString}")
    }
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "cuckoo_contains"

  override def nullSafeEval(sk: Any, v: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    right.dataType match {
      case LongType    => CuckooTable.containsBytesLong(bytes, v.asInstanceOf[Long])
      case IntegerType => CuckooTable.containsBytesLong(bytes, v.asInstanceOf[Int].toLong)
      case StringType  => CuckooTable.containsBytesBinary(bytes,
        v.asInstanceOf[UTF8String].getBytes)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = CuckooTable.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val call = right.dataType match {
      case LongType    => (s: String, v: String) => s"$cls.containsBytesLong($s, $v)"
      case IntegerType => (s: String, v: String) => s"$cls.containsBytesLong($s, (long)$v)"
      case StringType  => (s: String, v: String) =>
        s"$cls.containsBytesBinary($s, $v.getBytes())"
    }
    nullSafeCodeGen(ctx, ev, (sk, v) => s"${ev.value} = ${call(sk, v)};")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CuckooContains =
    copy(left = newLeft, right = newRight)
}

/** Driver-side helpers for the bounded-delete demo path. */
object CuckooOps {
  /** Delete each key (one stored copy) from a serialized filter. */
  def deleteLongs(sketch: Array[Byte], keys: Seq[Long]): Array[Byte] = {
    val t = CuckooTable.deserialize(sketch)
    keys.foreach(k => t.delete(CuckooTable.itemHashLong(k)))
    t.serialize()
  }
}
