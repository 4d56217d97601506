package graft.perfbench

import java.math.RoundingMode
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-aware digest of a collected query result.
  *
  * Doubles are canonicalized the way the DuckDB oracle compare does it
  * (`round(v, 9)`, NaN as a token), so a result that passes the oracle
  * compare has one fingerprint however its last float bits fall. A result
  * whose query fixes its row order (every query with oracle SQL orders by
  * all of its outputs) is hashed in that order; any other result is hashed
  * as a sorted multiset, because its row order is not part of its value. */
object Fingerprint {
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else new java.math.BigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  def of(schema: StructType, rows: Array[Row], ordered: Boolean): String = {
    val lines = rows.iterator.map(r => r.toSeq.map(canon).mkString("\u0001"))
    val body = if (ordered) lines.toSeq else lines.toSeq.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes("UTF-8"))
    body.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }
}
