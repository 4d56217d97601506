package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.plans.OneRowSketchJoinRule

/**
 * OneRowSketchJoinRule: a sketch joined from a side that yields exactly
 * one row is probed through a scalar subquery (a task constant) instead
 * of as a column copied into every row.
 *
 * Contract under test:
 *  - all five probes (bloom_might_contain, cms_estimate, cuckoo_contains,
 *    bloom_ndv, cms_inner_product), with the sketch on a one-row
 *    LocalRelation and on a global aggregate: the join is gone (no
 *    BroadcastNestedLoopJoin), the answers equal the literal-sketch form,
 *    and the generated code reads no binary column;
 *  - every side that may not yield exactly one row, every join that is
 *    not an unconditioned inner/cross join, and a streaming input leave
 *    the plan and the answers as they were;
 *  - applying the rule to its own output changes nothing.
 */
class OneRowSketchJoinRuleSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._
  private lazy val rule = OneRowSketchJoinRule(spark)

  // 3000 inserts over 500 keys (6 each); probes step through [0, 1000),
  // so about half were inserted
  private def keys = spark.range(0, 3000).select(($"id" % 500).as("k"))
  private def probes = spark.range(0, 1000, 3).select($"id".as("k"))
  private def groupSketches = keys
    .groupBy(($"k" % 4).as("g")).agg(cms_agg($"k", 0.01, 0.99, 42).as("skg"))

  private case class Kind(name: String, build: Column, probe: Column => Column,
      rows: () => DataFrame)
  private lazy val kinds = Seq(
    Kind("bloom_might_contain", bloom_agg($"k", 500L, 0.01),
      sk => bloom_might_contain(sk, $"k"), () => probes),
    Kind("cms_estimate", cms_agg($"k", 0.01, 0.99, 42),
      sk => cms_estimate(sk, $"k"), () => probes),
    Kind("cuckoo_contains", cuckoo_agg($"k", 256),
      sk => cuckoo_contains(sk, $"k"), () => probes),
    Kind("bloom_ndv", bloom_agg($"k", 500L, 0.01),
      sk => bloom_ndv(sk), () => probes),
    Kind("cms_inner_product", cms_agg($"k", 0.01, 0.99, 42),
      sk => cms_inner_product(sk, $"skg"), () => groupSketches))

  private def sketchBytes(kd: Kind): Array[Byte] =
    keys.agg(kd.build.as("sk")).head().getAs[Array[Byte]](0)

  private def localSide(rows: Seq[Array[Byte]]): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](rows.map(Row(_)): _*),
      StructType(Seq(StructField("sk", BinaryType))))

  /** Rows in a canonical order; binary values by content. */
  private def answers(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def probed(kd: Kind, side: DataFrame): DataFrame =
    kd.rows().join(broadcast(side)).select(col("*"), kd.probe(col("sk")).as("v"))
      .drop("sk")

  private def literal(kd: Kind): DataFrame =
    kd.rows().select(col("*"), kd.probe(lit(sketchBytes(kd))).as("v"))

  private def withoutRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rule.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def assertRewritten(df: DataFrame): Unit = {
    val expected = answers(df)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"join left in:\n$plan")
    assert(plan.contains("Subquery"), s"no scalar subquery in:\n$plan")
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    assert(expected.nonEmpty)
  }

  for (kd <- Seq("bloom_might_contain", "cms_estimate", "cuckoo_contains",
      "bloom_ndv", "cms_inner_product")) {
    test(s"$kd: one-row LocalRelation side is rewritten, answers equal the literal form") {
      val k = kinds.find(_.name == kd).get
      val df = probed(k, localSide(Seq(sketchBytes(k))))
      assertRewritten(df)
      assert(answers(df) === answers(literal(k)))
    }

    test(s"$kd: global-aggregate side is rewritten, answers equal the literal form") {
      val k = kinds.find(_.name == kd).get
      val df = probed(k, keys.agg(k.build.as("sk")))
      assertRewritten(df)
      assert(answers(df) === answers(literal(k)))
    }
  }

  test("generated code reads the sketch as a constant, never as a row column") {
    val k = kinds.head
    // the generated class that holds the probe (the subquery's own scan
    // of its one-row relation is a separate class)
    def code(df: DataFrame): String = {
      df.collect()
      org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
        .filter(_.contains("bloomProbe")).mkString("\n")
    }
    val joined = () => probed(k, localSide(Seq(sketchBytes(k))))
    assert(withoutRule(code(joined())).contains("getBinary"),
      "the joined form should read the sketch from the row")
    assert(!code(joined()).contains("getBinary"),
      "the rewritten probe should read no binary column")
  }

  test("a global aggregate side keeps its other columns, as scalar subqueries") {
    val k = kinds.find(_.name == "cms_estimate").get
    val side = keys.agg(k.build.as("sk"), count(lit(1)).as("n"))
    val df = probes.join(side).select($"k", $"n", cms_estimate($"sk", $"k").as("v"))
    assertRewritten(df)
    assert(answers(df) === answers(probes.select($"k", lit(3000L).as("n"),
      cms_estimate(lit(sketchBytes(k)), $"k").as("v"))))
  }

  test("nested one-row joins (cms_inner_product of two aggregates) scan each input once") {
    val a = keys.agg(cms_agg($"k", 0.01, 0.99, 42).as("ska"))
    val b = keys.filter($"k" < 100).agg(cms_agg($"k", 0.01, 0.99, 42).as("skb"))
    val df = a.join(b).join(spark.range(3).toDF("i"))
      .select($"i", cms_inner_product($"ska", $"skb").as("ip"))
    assertRewritten(df)
    assert(answers(df) === withoutRule(answers(
      a.join(b).join(spark.range(3).toDF("i"))
        .select($"i", cms_inner_product($"ska", $"skb").as("ip")))))
    // each sketch is one subquery over its own aggregate: no subquery
    // nests the other one (which would re-read its input)
    val subqueries = df.queryExecution.optimizedPlan.flatMap(_.subqueries)
    assert(subqueries.size === 2, s"expected two sketch subqueries:\n$subqueries")
    assert(subqueries.forall(_.flatMap(_.subqueries).isEmpty), subqueries.toString)
  }

  test("per-group sketches joined on the group key (not rewritten) equal per-group literal probes") {
    // the path the rule leaves alone: the sketch really varies per row, so
    // the probes' content-compare caches and cuckoo's deserialize-on-miss
    // carry it. Probe rows interleave the groups, so the sketch changes
    // from one row to the next.
    // distinct keys: a cuckoo filter's capacity counts inserts
    val grouped = keys.distinct().select($"k", ($"k" % 5).as("g"))
    val sketches = grouped.groupBy("g").agg(
      bloom_agg($"k", 200L, 0.01).as("bf"), cms_agg($"k", 0.01, 0.99, 42).as("cms"),
      cuckoo_agg($"k", 64).as("ck"))
    val rows = probes.select($"k", ($"k" % 5).as("g"))
    val joined = rows.join(sketches, "g").select($"g", $"k",
      bloom_might_contain($"bf", $"k").as("b"), cms_estimate($"cms", $"k").as("c"),
      cuckoo_contains($"ck", $"k").as("q"))
    assert(joined.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty)
    val perGroup = sketches.collect().toSeq.map { r =>
      rows.filter($"g" === r.getLong(0)).select($"g", $"k",
        bloom_might_contain(lit(r.getAs[Array[Byte]]("bf")), $"k").as("b"),
        cms_estimate(lit(r.getAs[Array[Byte]]("cms")), $"k").as("c"),
        cuckoo_contains(lit(r.getAs[Array[Byte]]("ck")), $"k").as("q"))
    }.reduce(_ union _)
    assert(answers(joined) === answers(perGroup))
    // members of a group's filter answer true: no false negatives
    assert(joined.filter($"k" < 500 && !($"b" && $"q")).count() === 0L)
  }

  test("a sketch over a DSv2 source: the subquery the rule builds is optimized and planned") {
    // the rule runs after the optimizer's own subquery pass, so it
    // optimizes the subquery it builds itself (scan push-down included)
    val side = spark.read.format("graftgen").option("rows", 2000).option("parts", 4).load()
      .agg(bloom_agg($"id", 2000L, 0.01).as("sk"))
    def df = probes.join(side).select($"k", bloom_might_contain($"sk", $"k").as("v"))
    assertRewritten(df)
    assert(answers(df) === withoutRule(answers(df)))
  }

  // ---------------- negative cases ----------------

  /** The rule changes neither the plan nor the answers. */
  private def assertUntouched(df: => DataFrame): Unit = {
    val optimized = df.queryExecution.optimizedPlan
    assert(rule(optimized) === optimized)
    val analyzed = df.queryExecution.analyzed
    assert(rule(analyzed) === analyzed)
    assert(answers(df) === withoutRule(answers(df)))
  }

  private def bloom = kinds.head

  test("negative: grouped aggregate side") {
    assertUntouched(probes.join(keys.groupBy(($"k" % 2).as("g"))
      .agg(bloom.build.as("sk"))).select($"k", $"g", bloom_might_contain($"sk", $"k")))
  }

  test("negative: Filter over a global aggregate") {
    assertUntouched(probes.join(keys.agg(bloom.build.as("sk"), count(lit(1)).as("n"))
      .filter($"n" > 0)).select($"k", bloom_might_contain($"sk", $"k")))
  }

  test("negative: empty and two-row LocalRelation sides") {
    assertUntouched(probes.join(localSide(Nil))
      .select($"k", bloom_might_contain($"sk", $"k")))
    val sk = sketchBytes(bloom)
    assertUntouched(probes.join(localSide(Seq(sk, sk)))
      .select($"k", bloom_might_contain($"sk", $"k")))
  }

  test("negative: left outer join and a join with a condition") {
    val side = localSide(Seq(sketchBytes(bloom)))
    assertUntouched(probes.join(side, lit(true), "left_outer")
      .select($"k", bloom_might_contain($"sk", $"k")))
    assertUntouched(probes.join(side, length($"sk") > $"k")
      .select($"k", bloom_might_contain($"sk", $"k")))
  }

  test("negative: a join whose one-row column feeds no probe") {
    assertUntouched(probes.join(keys.agg(count(lit(1)).as("n"))).select($"k", $"n"))
  }

  test("negative: streaming input keeps its stream-static join") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val side = localSide(Seq(sketchBytes(bloom)))
    val df = input.toDF().join(side)
      .select($"value", bloom_might_contain($"sk", $"value").as("v"))
    val analyzed = df.queryExecution.analyzed
    assert(analyzed.isStreaming)
    assert(rule(analyzed) === analyzed)
    val q = df.writeStream.format("memory").queryName("one_row_stream").start()
    try {
      input.addData(0L until 1000L by 3: _*)
      q.processAllAvailable()
      // the micro-batch plan still joins: its input side is streaming
      val batchPlan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      assert(batchPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty,
        batchPlan.toString)
      val got = spark.table("one_row_stream").as[(Long, Boolean)].collect().sorted.toSeq
      val want = probes.select($"k", bloom_might_contain(lit(sketchBytes(bloom)), $"k"))
        .as[(Long, Boolean)].collect().sorted.toSeq
      assert(got === want)
    } finally q.stop()
  }

  test("idempotent: a second application leaves the plan as the first left it") {
    for (kd <- kinds) {
      val plan = probed(kd, keys.agg(kd.build.as("sk"))).queryExecution.analyzed
      val once = rule(plan)
      assert(once !== plan, s"${kd.name}: rule did not fire on the analyzed plan")
      assert(rule(once) === once, kd.name)
      val optimized = probed(kd, keys.agg(kd.build.as("sk"))).queryExecution.optimizedPlan
      assert(rule(optimized) === optimized, kd.name)
    }
  }
}
