package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: `parent` is the enclosing span (-1 for a root),
  * `call` the timed call it belongs to. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-call probes around the engine's public seams. A [[Tracer.Off]]
  * probe does nothing, so an untraced run registers no listener and sets
  * no property: its timings carry no tracing cost. */
trait Probe {
  def beginCall(call: Int, name: String): Unit
  def phase[T](name: String)(f: => T): T
  def planned(qe: QueryExecution): Unit
  def endCall(): Unit
}

object Tracer {
  val CallProperty = "perfbench.call"

  /** Counters reported as per-call means. */
  val CounterNames: Seq[String] = Seq(
    "queries.build_jobs", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "spark.codegen.compiles", "spark.codegen.compile_s",
    "spark.scheduler.jobs", "spark.scheduler.stages", "spark.scheduler.tasks",
    "spark.scheduler.aqe_updates", "spark.exec.task_s", "spark.exec.cpu_s",
    "spark.exec.input_bytes", "spark.exec.shuffle_bytes", "spark.exec.spill_bytes",
    "spark.exec.gc_s", "spark.exec.failed_tasks", "index.timed_builds", "jvm.gc_s",
    "streaming.batches", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.latest_offset_ms", "streaming.start_ms",
    "streaming.input_rows", "streaming.state.stores", "streaming.state.rows_total",
    "streaming.state.rows_updated", "streaming.state.memory_bytes",
    "streaming.state.commit_ms", "streaming.state.update_ms")

  object Off extends Probe {
    def beginCall(call: Int, name: String): Unit = ()
    def phase[T](name: String)(f: => T): T = f
    def planned(qe: QueryExecution): Unit = ()
    def endCall(): Unit = ()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Labels and counts of every shared-index build the engine recorded
    * (graft.queries.CacheStats), read through its counter map. */
  def indexBuilds(): Map[String, Long] = {
    val f = graft.queries.CacheStats.getClass.getDeclaredField("builds")
    f.setAccessible(true)
    f.get(graft.queries.CacheStats)
      .asInstanceOf[ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]]
      .asScala.map { case (k, v) => k -> v.get() }.toMap
  }

  def blockMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** Collectors of a traced run: a SparkListener (jobs, stages, tasks and
  * task metrics, attributed to calls through a local property that the
  * engine's own threads inherit), a StreamingQueryListener (micro-batch
  * progress and state operators), QueryPlanningTracker phases,
  * CodegenMetrics and CacheStats. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, cores: Int) extends Probe {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  @volatile private var call = -1
  @volatile private var openPhase = ""
  private val counters = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  private val stageCall = new ConcurrentHashMap[Int, Int]()
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var snap: Map[String, Double] = Map.empty

  private def add(c: Int, key: String, v: Double): Unit = if (c >= 0) {
    val m = counters.computeIfAbsent(c, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
  }
  private def callOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.CallProperty)))
      .map(_.toInt).getOrElse(call)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = callOf(e.properties)
      e.stageIds.foreach(s => stageCall.put(s, c))
      add(c, "spark.scheduler.jobs", 1)
      // the query function's eager checkpoints and collects, and the
      // micro-batches of a pipeline it runs to completion
      if (openPhase == "build") add(c, "queries.build_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageCall.getOrDefault(e.stageInfo.stageId, call), "spark.scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = stageCall.getOrDefault(e.stageId, call)
      add(c, "spark.scheduler.tasks", 1)
      if (e.reason != Success) add(c, "spark.exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(c, "spark.exec.task_s", m.executorRunTime / 1e3)
        add(c, "spark.exec.cpu_s", m.executorCpuTime / 1e9)
        add(c, "spark.exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(c, "spark.exec.shuffle_bytes",
          (m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead).toDouble)
        add(c, "spark.exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(c, "spark.exec.gc_s", m.jvmGCTime / 1e3)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        add(call, "spark.scheduler.aqe_updates", 1)
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    private val started = new ConcurrentHashMap[java.util.UUID, Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.put(e.runId, java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      add(call, "streaming.batches", 1)
      batchMs.synchronized { batchMs += d.getOrElse("triggerExecution", 0.0) }
      add(call, "streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
      add(call, "streaming.query_planning_ms", d.getOrElse("queryPlanning", 0.0))
      add(call, "streaming.wal_commit_ms", d.getOrElse("walCommit", 0.0))
      add(call, "streaming.latest_offset_ms", d.getOrElse("latestOffset", 0.0))
      add(call, "streaming.input_rows", p.numInputRows.toDouble)
      Option(started.remove(p.runId)).foreach { t0 =>
        add(call, "streaming.start_ms",
          (java.time.Instant.parse(p.timestamp).toEpochMilli - t0).max(0L).toDouble)
      }
      p.stateOperators.foreach { s =>
        add(call, "streaming.state.stores", s.numShufflePartitions.toDouble)
        add(call, "streaming.state.rows_total", s.numRowsTotal.toDouble)
        add(call, "streaming.state.rows_updated", s.numRowsUpdated.toDouble)
        add(call, "streaming.state.memory_bytes", s.memoryUsedBytes.toDouble)
        add(call, "streaming.state.commit_ms", s.commitTimeMs.toDouble)
        add(call, "streaming.state.update_ms", s.allUpdatesTimeMs.toDouble)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  private def push(name: String): Unit = {
    open.push((nextId, name, System.nanoTime())); nextId += 1
  }
  private def pop(): Unit = {
    val (id, name, t0) = open.pop()
    val parent = open.headOption.map(_._1).getOrElse(-1)
    spans += Span(id, parent, call, name, t0, System.nanoTime())
  }

  private def snapshot(): Map[String, Double] = Map(
    "spark.codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "spark.codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
    "jvm.gc_s" -> Tracer.gcSeconds(),
    "index.timed_builds" -> Tracer.indexBuilds().values.sum.toDouble)

  def beginCall(c: Int, name: String): Unit = {
    call = c
    spark.sparkContext.setLocalProperty(Tracer.CallProperty, c.toString)
    snap = snapshot()
    push("call")
  }

  def phase[T](name: String)(f: => T): T = {
    push(name)
    openPhase = name
    try f finally { pop(); openPhase = "" }
  }

  def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add(call, "plans.analysis_s", ms(QueryPlanningTracker.ANALYSIS))
    add(call, "plans.optimization_s", ms(QueryPlanningTracker.OPTIMIZATION))
    add(call, "plans.planning_s", ms(QueryPlanningTracker.PLANNING))
  }

  def endCall(): Unit = {
    pop()
    PerfbenchBus.drain(spark.sparkContext)
    val now = snapshot()
    now.foreach { case (k, v) => add(call, k, v - snap.getOrElse(k, 0.0)) }
    spark.sparkContext.setLocalProperty(Tracer.CallProperty, null)
    call = -1
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  private def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Per-layer metrics: per-call means of every counter, plus the span
    * split of call wall time and micro-batch duration percentiles. */
  def layerMetrics(): Map[String, Double] = {
    val calls = spans.filter(_.name == "call")
    val n = calls.size.max(1).toDouble
    def phaseSum(p: String) = spans.filter(_.name == p).map(_.seconds).sum
    val wall = calls.map(_.seconds).sum
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    calls.foreach { c =>
      Option(counters.get(c.call)).foreach(_.foreach { case (k, v) => sums(k) += v })
    }
    val perCall = Tracer.CounterNames.map(k => k -> sums(k) / n).toMap
    val taskS = sums("spark.exec.task_s")
    val sortedBatches = batchMs.sorted
    def pct(q: Double) =
      if (sortedBatches.isEmpty) 0.0
      else sortedBatches(((sortedBatches.size - 1) * q).round.toInt)
    perCall ++ Map(
      "queries.build_s" -> phaseSum("build") / n,
      "spark.scheduler.wait_s" -> (wall - taskS / cores) / n,
      "spark.exec.parallel_eff" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "streaming.batch_p50_ms" -> pct(0.5),
      "streaming.batch_max_ms" -> sortedBatches.lastOption.getOrElse(0.0),
      "trace.self_s" -> calls.map(selfSeconds).sum / n,
      "trace.coverage" ->
        (if (wall > 0) (phaseSum("build") + phaseSum("plan") + phaseSum("action")) / wall
         else 0.0))
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"call":${s.call},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
