package graft

import org.apache.spark.sql.{AnalysisException, Column}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Out-of-range sketch parameters fail at analysis time with a message
  * naming the parameter, not later inside a task. */
class SketchParamsSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def rejected(agg: Column, words: String*): Unit = {
    val ex = intercept[AnalysisException] {
      spark.range(10).agg(agg).queryExecution.analyzed
    }
    words.foreach(w => assert(ex.getMessage.contains(w), ex.getMessage))
  }

  test("bloom_agg rejects expectedItems <= 0") {
    rejected(bloom_agg($"id", 0L, 0.01), "bloom_agg", "expectedItems")
    rejected(bloom_agg($"id", -5L, 0.01), "bloom_agg", "expectedItems")
  }

  test("bloom_agg rejects fpp outside (0, 1)") {
    for (fpp <- Seq(0.0, 1.0, 1.5, -0.1, Double.NaN))
      rejected(bloom_agg($"id", 100L, fpp), "bloom_agg", "fpp")
  }

  test("cms_agg rejects eps <= 0") {
    rejected(cms_agg($"id", 0.0, 0.99, 42), "cms_agg", "eps")
    rejected(cms_agg($"id", -0.01, 0.99, 42), "cms_agg", "eps")
  }

  test("cms_agg rejects confidence outside (0, 1)") {
    for (c <- Seq(0.0, 1.0, 1.2))
      rejected(cms_agg($"id", 0.01, c, 42), "cms_agg", "confidence")
  }

  test("in-range parameters still build") {
    val r = spark.range(10).agg(bloom_agg($"id", 10L, 0.01), cms_agg($"id", 0.01, 0.99, 42))
      .head()
    assert(r.getAs[Array[Byte]](0).nonEmpty && r.getAs[Array[Byte]](1).nonEmpty)
  }
}
