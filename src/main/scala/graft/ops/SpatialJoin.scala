package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Cells, Geom, GridIndex, PipLookup}
import graft.synth.Synth

/** Point-in-polygon membership — the engine's core custom operator
  * (SURVEY.md §2.3 J3; replaces `gpd.sjoin` / `gdal_rasterize -a HydroID`).
  * This module owns both polygon sets a point is looked up in: the
  * catchments ([[assign]]) and the evaluation's exclusion masks
  * ([[maskOf]], read by `Agreement.withMaskFlag` and
  * `Impact.deepFlooding`).
  *
  * Plan shape (scale rationale):
  *  1. each polygon set is indexed once per JVM as a [[graft.geo.GridIndex]]
  *     (CSR primitive arrays: 3.1 MB for the 20 736 catchments at res 8,
  *     30 KB for the 40 masks at res 6) and **broadcast once per
  *     SparkContext** through [[Broadcasts]];
  *  2. a point's polygon is the codegen'd [[graft.geo.PipLookup]]
  *     expression over its lng/lat: an interior grid cell answers with no
  *     ring test, a boundary cell runs the crossing-number test over the
  *     few polygons that meet it (1.2 on average on the flagship's pages);
  *  3. for catchments that lookup is the stream-side key of a
  *     **broadcast**-hash join against the 20 736-row catchment-attribute
  *     table ([[attributes]]: closed forms over a `Range`, so planning
  *     never walks literal rows) on its unique dense `hydroid` (points in
  *     no catchment drop here).
  *
  * Both steps run inside one whole-stage-codegen stage: ZERO shuffle of the
  * fact (pages) side at any scale. At 100 TB this is a map-only stage:
  * scan → project (geocode) → BHJ keyed on the lookup.
  */
object SpatialJoin {

  private lazy val catchments: GridIndex =
    GridIndex.build(Synth.catchmentList.map(c => Geom.Poly(c.hydroid, c.ring)))

  private lazy val masks: GridIndex =
    GridIndex.build(Synth.maskList.map(m => Geom.Poly(m.mask_id, m.ring)))

  /** The catchment index ([[Synth.catchmentList]], ids = hydroid). */
  def catchmentIndex(spark: SparkSession): Broadcast[GridIndex] = Broadcasts.of(spark, catchments)

  /** The exclusion-mask index ([[Synth.maskList]], ids = mask_id; the
    * masks cover ~1.7 % of the globe, so most points miss). */
  def maskIndex(spark: SparkSession): Broadcast[GridIndex] = Broadcasts.of(spark, masks)

  /** The mask_id of the exclusion mask holding the centroid of `cell` (a
    * [[Cells.BaseRes]] cell id), or [[GridIndex.Miss]]. */
  def maskOf(spark: SparkSession, cell: Column): Column =
    PipLookup.lookup(Cells.centroidLngCol(cell, Cells.BaseRes), Cells.centroidLatCol(cell, Cells.BaseRes),
      maskIndex(spark))

  /** Assign each point (needs lat/lng columns) its containing catchment.
    * Inner join: points outside every polygon are dropped (the catchments
    * partition the globe, so here every point matches exactly once).
    * Output columns: `ccell` (when the points carry it), the other point
    * columns, then hydroid, feature_id, huc8, lake_id, order_. */
  def assign(spark: SparkSession, points: DataFrame): DataFrame = {
    val attrs = attributes(spark)
    val keyFirst = points.columns.filter(_ == "ccell") ++ points.columns.filter(_ != "ccell")
    // the lookup is the join key itself, not a projected column: equal to
    // a projected `hydroid`, it would let constraint inference copy every
    // filter on the dimension's hydroid (e.g. the stage join's lake filter)
    // onto the fact side, re-running the lookup per copy
    points
      .join(broadcast(attrs),
        PipLookup.lookup(col("lng"), col("lat"), catchmentIndex(spark)) === attrs("hydroid"))
      .select(keyFirst.map(col) ++ attrs.columns.map(attrs(_)): _*)
  }

  /** The catchment-attribute table (hydroid INT, feature_id, huc8, lake_id,
    * order_): [[Synth.catchmentList]]'s attributes as closed forms over
    * [[Synth.hydroids]], so a plan carries a `Range`, not 20 736 literal
    * rows that every planner rule would walk. */
  private[graft] def attributes(spark: SparkSession): DataFrame = {
    val h = col("hydroid")
    Synth.hydroids(spark).select(h.cast("int").as("hydroid"))
      .select(h, Synth.featureIdOf(h).as("feature_id"), Synth.huc8Of(h).as("huc8"),
        Synth.lakeIdOf(h).as("lake_id"), Synth.orderOf(h).as("order_"))
  }
}
