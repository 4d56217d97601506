package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/**
 * Driver contract — the engine's named query surface (SURVEY.md §2).
 *
 * Query groups live in `graft.queries.*`; each map entry with a matching
 * oracleSql entry is hash-compared by the driver against DuckDB on the
 * same parquet. Entries without oracle SQL (sketches, LSH, streaming)
 * get rows-only checks and are property-tested in the ScalaTest suites.
 *
 * Determinism rules (FIXTURES.md): explicit ORDER BY on every output,
 * doubles rounded to fixed decimals, seeds pinned to 42, UTC everywhere,
 * thresholds always compared on the same rounded value in both engines.
 */
object SparkEntry {

  /**
   * Flagship (smoke) query — the reference's signature computation in
   * batch form: per-event-type exact count vs Count-Min-Sketch estimate.
   * Sketch built distributed (partial+final agg) as a one-row BinaryType
   * relation joined to the probe side; OneRowSketchJoinRule plans it as
   * a scalar subquery, so the sketch reaches the probe as one task
   * constant — no driver round-trip, no per-row copy (SURVEY.md §3.3).
   */
  def entry(spark: SparkSession): DataFrame =
    SketchQueries.queries("q_cms_event_counts")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SourceQueries.queries ++
    RelationalQueries.queries ++
    SketchQueries.queries ++
    TextQueries.queries ++
    VectorQueries.queries ++
    MultimodalQueries.queries ++
    CurationQueries.queries ++
    BehaviorQueries.queries ++
    MaintenanceQueries.queries ++
    WarehouseQueries.queries ++
    StreamingQueries.queries

  def oracleSql: Map[String, String] =
    SourceQueries.oracleSql ++
    RelationalQueries.oracleSql ++
    SketchQueries.oracleSql ++
    TextQueries.oracleSql ++
    VectorQueries.oracleSql ++
    MultimodalQueries.oracleSql ++
    CurationQueries.oracleSql ++
    BehaviorQueries.oracleSql ++
    MaintenanceQueries.oracleSql ++
    WarehouseQueries.oracleSql ++
    StreamingQueries.oracleSql
}
