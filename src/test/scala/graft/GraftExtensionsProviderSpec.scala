package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{BloomSemiPrefilterRule, OneRowSketchJoinRule, RangeJoinBinningRule}

/**
 * GraftExtensions as a `SparkSessionExtensionsProvider`: Spark's
 * ServiceLoader applies it to every session a builder creates, without
 * `withExtensions`; a builder that also calls `withExtensions` still
 * injects each rule once.
 */
class GraftExtensionsProviderSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  /** Injected optimizer rules of a session, by rule name. */
  private def ruleCounts(s: SparkSession): Map[String, Int] = {
    val opt = s.sessionState.optimizer
    (opt.preCBORules ++ opt.extendedOperatorOptimizationRules)
      .groupBy(_.ruleName).view.mapValues(_.size).toMap
  }

  private val graftRules = Seq(BloomSemiPrefilterRule(null).ruleName,
    RangeJoinBinningRule(null).ruleName, OneRowSketchJoinRule(null).ruleName)

  test("a plain builder session resolves graft SQL and applies the one-row rewrite") {
    spark // the shared SparkContext; create() builds a new session on it
    val plain = SparkSession.builder().create()
    assert(graftRules.forall(r => ruleCounts(plain).get(r).contains(1)), ruleCounts(plain))
    val df = plain.sql(
      """SELECT r.id, bloom_might_contain(s.bf, r.id) AS mc
        |FROM range(0, 100, 3) r
        |CROSS JOIN (SELECT bloom_agg(id, 100L, 0.01d) AS bf FROM range(50)) s
        |""".stripMargin)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      s"the sketch join should be a scalar subquery:\n$plan")
    val rows = df.collect().map(r => r.getLong(0) -> r.getBoolean(1))
    assert(rows.length == 34)
    assert(rows.filter(_._1 < 50).forall(_._2), "a Bloom filter has no false negatives")
  }

  test("withExtensions on top of the service entry injects each rule once") {
    // the shared test session is built with withExtensions(new GraftExtensions)
    assert(graftRules.forall(r => ruleCounts(spark).get(r).contains(1)), ruleCounts(spark))
  }
}
