package graft.perfbench

import java.nio.ByteBuffer

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count_min_sketch, lit}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.functions._

/** Builds and probes the four sketches over generated Zipf-skewed keys.
  *
  * Set-up loads and caches the inputs and builds each sketch once, so the
  * first timed probe has a sketch to read. A timed call is a build
  * (`<kind>.build`), a probe with the sketch as a broadcast one-row
  * relation (`<kind>.probe`, the shape SketchQueries uses), or a probe with
  * the sketch as a literal (`<kind>.probe_lit`). Every result is checked
  * against the exact answers after the clock stops. */
final class SketchWorkload(spark: SparkSession, conf: JsonNode) {
  private val fpp = conf.get("fpp").asDouble
  private val eps = conf.get("eps").asDouble
  private val confidence = conf.get("confidence").asDouble
  private val buckets = conf.get("cuckoo_buckets").asInt
  private val nDistinct = conf.get("distinct").asLong

  private val keys = spark.read.parquet(conf.get("keys").asText).cache()
  private val nRows = keys.count()
  private val distinctKeys = keys.distinct().cache()
  require(distinctKeys.count() == nDistinct, "generated distinct-key count does not match")
  private val probeInput = spark.read.parquet(conf.get("probes").asText)
  /** key -> (inserted, exact count) */
  private val truth: Map[String, (Boolean, Long)] = probeInput.collect()
    .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
  private val probes = probeInput.select("k").cache()
  private val nProbes = probes.count()

  val Kinds = Seq("bloom", "cms", "cms_builtin", "cuckoo")
  private val sketches = mutable.Map.empty[String, Array[Byte]]
  private val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var falsePositives = 0L
  private var bloomAbsentProbes = 0L
  private var cmsViolations = 0L
  private var cmsProbed = 0L

  Kinds.foreach(k => sketches(k) = bytesOf(buildDf(k).collect()))

  private def bytesOf(rows: Array[Row]): Array[Byte] = rows(0).getAs[Array[Byte]](0)

  private def buildDf(kind: String): DataFrame = kind match {
    case "bloom" => keys.agg(bloom_agg(col("k"), nDistinct, fpp).as("sk"))
    case "cms" => keys.agg(cms_agg(col("k"), eps, confidence, 42).as("sk"))
    case "cms_builtin" =>
      keys.agg(count_min_sketch(col("k"), lit(eps), lit(confidence), lit(42)).as("sk"))
    case "cuckoo" => distinctKeys.agg(cuckoo_agg(col("k"), buckets).as("sk"))
  }

  private def probeExpr(kind: String, sk: org.apache.spark.sql.Column) = kind match {
    case "bloom" => bloom_might_contain(sk, col("k"))
    case "cuckoo" => cuckoo_contains(sk, col("k"))
    case _ => cms_estimate(sk, col("k"))
  }

  private def probeDf(kind: String, literal: Boolean): DataFrame = {
    val bytes = sketches(kind)
    if (literal) probes.select(col("k"), probeExpr(kind, lit(bytes)).as("v"))
    else {
      val sk = spark.createDataFrame(java.util.List.of(Row(bytes)),
        StructType(Seq(StructField("sk", BinaryType))))
      probes.join(broadcast(sk)).select(col("k"), probeExpr(kind, col("sk")).as("v"))
    }
  }

  /** (items, dropped, slots) from a serialized cuckoo table. */
  private def cuckooStats(b: Array[Byte]): (Long, Long, Long) = {
    val buf = ByteBuffer.wrap(b)
    val m = buf.getInt
    (buf.getLong, buf.getLong, m.toLong * 4)
  }

  /** Ground-truth check of one probe result; returns the failure, if any:
    * a Bloom or cuckoo false negative, a CMS undercount, or more CMS
    * overcounts beyond eps*N than the 1 - confidence the sketch allows. */
  private def check(kind: String, rows: Array[Row]): String = {
    if (rows.length != nProbes) return s"$kind probe returned ${rows.length} rows"
    kind match {
      case "bloom" | "cuckoo" =>
        var missed = 0L
        rows.foreach { r =>
          val (member, _) = truth(r.getString(0))
          val hit = r.getBoolean(1)
          if (member && !hit) missed += 1
          if (kind == "bloom" && !member) {
            bloomAbsentProbes += 1
            if (hit) falsePositives += 1
          }
        }
        if (missed > 0) s"$kind: $missed false negatives" else null
      case _ =>
        var under = 0L
        var over = 0L
        rows.foreach { r =>
          val exact = truth(r.getString(0))._2
          val est = r.getLong(1)
          if (est < exact) under += 1
          if (est - exact > eps * nRows) over += 1
        }
        cmsViolations += over
        cmsProbed += rows.length
        if (under > 0) s"$kind: $under undercounts"
        else if (over > (1 - confidence) * rows.length)
          s"$kind: $over of ${rows.length} estimates exceed the eps*N bound"
        else null
    }
  }

  def call(probe: Probe, id: Int, pass: Int, name: String): CallRec = {
    val Array(kind, op) = name.split('.')
    val t0 = System.nanoTime()
    try {
      val (wall, _, rows) = Main.timedCall(probe, id, name) {
        if (op == "build") buildDf(kind) else probeDf(kind, op == "probe_lit")
      }
      walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
      val err = if (op == "build") {
        sketches(kind) = bytesOf(rows)
        if (kind == "cuckoo" && cuckooStats(sketches(kind))._2 > 0)
          s"cuckoo: ${cuckooStats(sketches(kind))._2} inserts dropped"
        else null
      } else check(kind, rows)
      CallRec(pass, name, wall, rows.length.toLong, null, err)
    } catch {
      case scala.util.control.NonFatal(e) =>
        CallRec(pass, name, (System.nanoTime() - t0) / 1e9, 0L, null,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
  private def sumOf(op: String) =
    walls.collect { case (n, w) if n.endsWith("." + op) => w.sum }.sum
  private def countOf(op: String) =
    walls.collect { case (n, w) if n.endsWith("." + op) => w.size }.sum

  /** Accuracy and size of the sketches, and insert/probe rates. */
  def summary(): Map[String, Double] = {
    val (items, dropped, slots) = cuckooStats(sketches("cuckoo"))
    val buildRows = walls.collect { case (n, w) if n.endsWith(".build") =>
      w.size * (if (n.startsWith("cuckoo")) nDistinct else nRows) }.sum
    val probeRows = (countOf("probe") + countOf("probe_lit")) * nProbes
    Map(
      "build_rows_per_s" -> (if (sumOf("build") > 0) buildRows / sumOf("build") else 0.0),
      "probe_rows_per_s" ->
        (if (probeRows > 0) probeRows / (sumOf("probe") + sumOf("probe_lit")) else 0.0),
      "bloom_fpp_ratio" ->
        (if (bloomAbsentProbes > 0) falsePositives.toDouble / bloomAbsentProbes / fpp else 0.0),
      "cms_violation_rate" -> (if (cmsProbed > 0) cmsViolations.toDouble / cmsProbed else 0.0),
      "sketch_bytes" -> sketches.values.map(_.length.toDouble).sum,
      "sketches.cuckoo.load" -> items.toDouble / slots,
      "sketches.cuckoo.dropped" -> dropped.toDouble)
  }

  def layerMetrics(): Map[String, Double] = summary() ++ Kinds.flatMap { k =>
    Seq(s"sketches.$k.build_s" -> median(walls.getOrElse(s"$k.build", Nil).toSeq),
      s"sketches.$k.probe_s" -> median(walls.getOrElse(s"$k.probe", Nil).toSeq),
      s"sketches.$k.probe_lit_s" -> median(walls.getOrElse(s"$k.probe_lit", Nil).toSeq),
      s"sketches.$k.bytes" -> sketches(k).length.toDouble)
  }
}
