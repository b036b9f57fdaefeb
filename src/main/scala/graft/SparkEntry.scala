package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.Inundate
import graft.queries._

/** The query surface — one declared query (+ DuckDB oracle) per implemented
  * operator from SURVEY.md §2, in its family's module under `graft.queries`.
  * `queries` and `oracleSql` are the two name-keyed views of that one
  * registry. Column names are aliased identically on both sides (the parity
  * check hashes values under name-sorted columns).
  */
object SparkEntry {

  /** Flagship query on sf0.001: the full inundate + mosaic pipeline
    * (SURVEY.md §3.2). */
  def entry(spark: SparkSession): DataFrame =
    Inundate.run(spark, "/root/testdata/sf0.001")

  private val registry: Map[String, Query] = Query.byName(
    HydroQueries.queries ++ CalibrationQueries.queries ++ EvaluationQueries.queries ++
      TextDedupQueries.queries ++ WebLinkQueries.queries ++ PlatformQueries.queries)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.run }

  val oracleSql: Map[String, String] = registry.map { case (name, q) => name -> q.oracle }
}
