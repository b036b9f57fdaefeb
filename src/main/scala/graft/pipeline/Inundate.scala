package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{RatingInterp, SpatialJoin}
import graft.synth.Synth

/** The flagship operational query — SURVEY.md §3.2 (`tools/inundation.py` +
  * `tools/mosaic_inundation.py`) as one declarative Spark plan:
  *
  *   points → PIP catchment assign → ⋈ broadcast(stages) → depth/class kernel
  *          → per-cell max mosaic
  *
  * stages = forecast → codegen'd lookup in the broadcast rating-curve index
  * (J1 + A5 fused, map-only: [[RatingInterp.stages]]).
  * The pixel kernel (`tools/inundation.py:427-442`):
  *   depth = max(stage − hand, 0); inundated ⇔ depth > 0;
  *   class = hydroid signed by wetness (sign convention of
  *   `tools/inundation.py:350-359,437-438`).
  * Mosaic (`tools/overlapping_inundation.py:282`): per-cell nanmax, with the
  * wet class winning ties (positive class > negative).
  *
  * Scale: one shuffle total (the mosaic groupBy on cell). Everything before
  * it is scan → broadcast joins → codegen'd expressions.
  */
object Inundate {

  /** The pixel kernel's depth at a point with `hand`: max(stage − hand, 0). */
  private[graft] def depthAt(stage: Column): Column = greatest(stage - col("hand"), lit(0.0))

  /** Per-point tiles: (pid, cell, huc8, hydroid, hand, stage_m, depth, clazz). */
  def tiles(spark: SparkSession, points: DataFrame): DataFrame = {
    val assigned = SpatialJoin.assign(spark, points)
    val stages = RatingInterp.stages(spark, Synth.forecast(spark))
    assigned
      .join(broadcast(stages), "hydroid")
      .withColumn("depth", depthAt(col("stage_m")))
      .withColumn("clazz",
        when(col("depth") > 0, col("hydroid")).otherwise(-col("hydroid")).cast("int"))
  }

  /** Mosaic: per-cell max depth + winning class (wet beats dry, then max
    * hydroid — deterministic tie-break). */
  def mosaic(tiles: DataFrame): DataFrame =
    tiles.groupBy(col("cell"))
      .agg(max(col("depth")).as("depth_max"),
        max(col("clazz")).as("clazz"),
        count(lit(1)).as("n_points"))

  def run(spark: SparkSession, sfDir: String): DataFrame =
    mosaic(tiles(spark, Synth.points(spark, sfDir)))

  /** FR+MS composite (q87) — `tools/composite_inundation.py:20-120`: the
    * full-resolution model and the mainstem-only model (high-order reaches,
    * run against a 1.5× high-flow forecast) are composited per cell by max
    * depth, recording which model won.
    *
    * Single pass over the fact table: the ms stage ladder is a strict subset
    * of the fr ladder's hydroids (same rating curves at a 1.5× forecast,
    * filtered to high-order reaches), so instead of a union of two scans the
    * plan joins `assigned` once against broadcast(fr stages) (inner) and
    * once against broadcast(ms stages) (left), derives both depths as
    * columns, and keeps the one mosaic exchange. At 100 TB the points scan + geocode/PIP chain
    * is the dominant cost — this runs it exactly once (PlanSpec gates one
    * parquet scan in the whole plan). */
  def compositeMosaic(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = SpatialJoin.assign(spark, Synth.points(spark, sfDir))
    val frStages = RatingInterp.stages(spark, Synth.forecast(spark))
    val msStages = RatingInterp.stages(spark,
        Synth.forecast(spark).withColumn("discharge", col("discharge") * lit(1.5)))
      .filter((col("hydroid") % 8) + 1 >= 5) // mainstems = high-order reaches
      .withColumnRenamed("stage_m", "stage_ms")
    assigned
      .join(broadcast(frStages), "hydroid")
      .join(broadcast(msStages), Seq("hydroid"), "left")
      .withColumn("depth_fr", depthAt(col("stage_m")))
      .withColumn("depth_ms", when(col("stage_ms").isNotNull, depthAt(col("stage_ms"))))
      .groupBy(col("cell"))
      .agg(max(col("depth_fr")).as("depth_fr"),
        max(col("depth_ms")).as("depth_ms"),
        count(col("depth_ms")).as("n_ms"))
      .select(col("cell"),
        greatest(col("depth_fr"), col("depth_ms")).as("depth_comp"),
        col("depth_ms"), col("depth_fr"), col("n_ms"),
        (col("depth_ms").isNotNull && col("depth_ms") > col("depth_fr"))
          .cast("int").as("ms_wins"))
  }

  /** Per-unit status table — the engine's form of the reference's exit-code
    * taxonomy (`src/utils/fim_enums.py`; see [[graft.model.GraftStatus]]):
    * a HUC with no pages → UNIT_NO_BRANCHES(60); pages but only lake
    * catchments → NO_VALID_CROSSWALKS(64); else Success(0). Failed units
    * become rows, not job failures (the reference's GNU-parallel process
    * boundary becomes a status column). */
  def unitStatus(spark: SparkSession, points: DataFrame): DataFrame = {
    import graft.model.GraftStatus._
    val universe = spark.range(0, (Synth.CatRows / Synth.HucCatRows * Synth.HucCols).toLong)
      .select(lpad(col("id").cast("string"), 8, "0").as("huc8"))
    val agg = graft.ops.SpatialJoin.assign(spark, points)
      .groupBy(col("huc8"))
      .agg(count(lit(1)).as("n_pts"),
        count(when(!Synth.isLake(col("hydroid")), 1)).as("n_ok"))
    universe.join(agg, Seq("huc8"), "left")
      .select(col("huc8"),
        when(col("n_pts").isNull, lit(UnitNoBranches.id))
          .when(col("n_ok") === 0, lit(NoValidCrosswalks.id))
          .otherwise(lit(Success.id)).cast("int").as("status"),
        coalesce(col("n_pts"), lit(0L)).as("n_pts"),
        coalesce(col("n_ok"), lit(0L)).as("n_ok"))
  }
}
