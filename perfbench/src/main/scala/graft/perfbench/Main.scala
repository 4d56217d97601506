package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** One timed call's outcome. `error` is set when the call threw or its
  * result did not match the expected fingerprint or sketch ground truth. */
final case class CallRec(pass: Int, name: String, wallS: Double, rows: Long,
    fp: String, error: String)

/** JVM side of the benchmark: runs one workload in one session on one
  * closed-loop client thread and writes its raw measurements as JSON.
  * The plan (workload, seed-derived call order, expected fingerprints)
  * comes from run.py, which also turns the raw record into metrics.
  *
  * Usage: Main <plan.json> <result.json> */
object Main {
  val Cores = 4
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val plan = mapper.readTree(new File(args(0)))
    val workload = plan.get("workload").asText
    val work = plan.get("work").asText
    val data = plan.get("data").asText
    val trace = plan.get("trace").asBoolean
    def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

    // set-up, repeated so the run can report its median: each round
    // starts a fresh session and runs the workload's warmups in it
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var indexBuilds = 0L
    var indexBuildS = 0.0
    var sketch: SketchWorkload = null
    var t0 = entryNs
    (1 to plan.get("setups").asInt).foreach { _ =>
      if (spark != null) { spark.stop(); t0 = System.nanoTime() }
      spark = session(work)
      indexBuilds = 0L; indexBuildS = 0.0
      plan.get("warmups").elements.asScala.foreach { w =>
        val before = Tracer.indexBuilds().values.sum
        val s0 = System.nanoTime()
        SparkEntry.queries(w.get("query").asText)(spark, data).collect()
        dropTempViews(spark)
        val built = Tracer.indexBuilds().values.sum - before
        if (built > 0) { indexBuilds += built; indexBuildS += (System.nanoTime() - s0) / 1e9 }
      }
      if (workload == "sketch-throughput") sketch = new SketchWorkload(spark, plan.get("sketch"))
      setupS += (System.nanoTime() - t0) / 1e9
    }

    // the first `warm_passes` passes warm the JIT and are checked but not
    // timed; the tracer starts after them. With `fresh_codegen` every call
    // compiles its generated code, as the first run of a query does.
    val warmPasses = plan.path("warm_passes").asInt(0)
    val freshCodegen = plan.path("fresh_codegen").asBoolean(false)
    var probe: Probe = Tracer.Off
    val calls = mutable.ArrayBuffer.empty[CallRec]
    val passes = plan.get("passes").elements.asScala.map(strings).toSeq
    val expected = plan.get("expected")
    passes.zipWithIndex.foreach { case (pass, passIdx) =>
      if (trace && passIdx == warmPasses) probe = new Tracer(spark, Cores)
      pass.foreach { name =>
        val id = calls.size
        if (freshCodegen) org.apache.spark.PerfbenchBus.clearCodegenCache()
        calls += (if (sketch != null) sketch.call(probe, id, passIdx, name)
          else queryCall(spark, probe, id, passIdx, name, data,
            Option(expected.get(name)).map(_.asText)))
      }
    }
    val timedCalls = calls.count(_.pass >= warmPasses)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    probe match {
      case t: Tracer =>
        layers ++= t.layerMetrics()
        layers("index.builds") = indexBuilds.toDouble + layers("index.timed_builds") * timedCalls
        layers("index.build_s") = indexBuildS
        layers("index.block_mb") = Tracer.blockMb(spark)
        t.detach()
        t.write(s"$work/trace.jsonl")
      case _ =>
    }
    if (sketch != null) layers ++= sketch.layerMetrics()
    dropTempViews(spark)
    val heapMb = retainedHeapMb()

    val out = mapper.createObjectNode()
    out.put("warm_passes", warmPasses)
    val setupArr = out.putArray("setup_s")
    setupS.foreach(setupArr.add(_))
    val arr = out.putArray("calls")
    calls.foreach { c =>
      val o = arr.addObject()
      o.put("pass", c.pass).put("name", c.name).put("wall_s", c.wallS).put("rows", c.rows)
      if (c.fp != null) o.put("fp", c.fp)
      if (c.error != null) o.put("error", c.error)
    }
    out.put("heap_mb", heapMb)
    val lo = out.putObject("layers")
    layers.foreach { case (k, v) => lo.put(k, v) }
    if (sketch != null) {
      val so = out.putObject("sketch")
      sketch.summary().foreach { case (k, v) => so.put(k, v) }
    }
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
    spark.streams.active.foreach(q => q.stop())
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Memory-sink tables a streaming pipeline registered; dropping them
    * lets their buffered rows be collected. */
  def dropTempViews(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))

  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Times one call from the query function's call until its last row is
    * collected; the fingerprint is taken after the clock stops. */
  def timedCall(probe: Probe, id: Int, name: String)(build: => DataFrame)
      : (Double, DataFrame, Array[Row]) = {
    probe.beginCall(id, name)
    try {
      val t0 = System.nanoTime()
      val df = probe.phase("build")(build)
      probe.phase("plan")(df.queryExecution.executedPlan)
      probe.planned(df.queryExecution)
      val rows = probe.phase("action")(df.collect())
      ((System.nanoTime() - t0) / 1e9, df, rows)
    } finally probe.endCall()
  }

  def queryCall(spark: SparkSession, probe: Probe, id: Int, pass: Int,
      name: String, data: String, expected: Option[String]): CallRec = {
    val t0 = System.nanoTime()
    try {
      val (wall, df, rows) = timedCall(probe, id, name)(SparkEntry.queries(name)(spark, data))
      val fp = Fingerprint.of(df.schema, rows, SparkEntry.oracleSql.contains(name))
      val err = expected match {
        case Some(e) if e == fp => null
        case Some(e) => s"fingerprint $fp, expected $e"
        case None => "no expected fingerprint"
      }
      CallRec(pass, name, wall, rows.length.toLong, fp, err)
    } catch {
      case scala.util.control.NonFatal(e) =>
        CallRec(pass, name, (System.nanoTime() - t0) / 1e9, 0L, null,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      if (name.startsWith("q_stream_")) dropTempViews(spark)
    }
  }
}
