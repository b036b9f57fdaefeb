package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.synth.Synth

/** SRC calibration family — lifecycle step 5 of SURVEY.md §0, the
  * post-processing pass the reference runs on every production build:
  *
  *  1. [[bankfull]] — locate the SRC row closest to the NWM bankfull flow per
  *     HydroID (`src/identify_src_bankfull.py:98,129-134`: `Q_bfull_find =
  *     |bankfull_flow − Discharge|`, `Stage > 0`, `groupby('HydroID').idxmin()`).
  *  2. [[subdivide]] — split volume/bed-area at the bankfull stage into
  *     channel + overbank portions and recompute discharge with Manning's
  *     equation per portion (`src/subdiv_chan_obank_src.py:218-291`).
  *  3. [[roughness]] — per-HydroID median calibration coefficient from
  *     observed vs SRC discharge, per-feature-group mean fallback, applied
  *     back to the SRC (`src/src_roughness_optimization.py:276-400` and the
  *     apply step at `:546-561`: `discharge = precalb / calb_coef_final`).
  *
  * All arithmetic is IEEE +,-,*,/ on DOUBLE plus sqrt and one fixed-iteration
  * Newton cube root ([[cbrt23Chain]]) so the DuckDB oracle reproduces every
  * value bit-for-bit. Scale shape: everything is per-(HydroID, stage-knot)
  * map work plus per-HydroID aggregations — partial-agg friendly, no
  * wide shuffles; the bankfull dimension (one row per HydroID) is broadcast
  * back to the knot table.
  */
object Calibration {

  private val GroupThreshKm = 8.0 // groupRoughness' downstream reach of a calibrated run
  private val TraceDistKm = 8.0 // usgsRatingTrace's trace distance from a gage
  private val ResetN = 0.06 // resetMannings' one roughness

  /** Synthetic SRC with channel-geometry columns — the engine's analog of the
    * reference's `src_full_crosswalked.csv` (Stage, Volume (m3), BedArea (m2),
    * SurfaceArea (m2), LENGTHKM, SLOPE, channel_n, overbank_n, plus the NWM
    * bankfull-flow estimate). Deterministic closed forms per (hydroid, stage):
    * volume is the exact integral of the surface-area ramp, so the geometry
    * is self-consistent. Textual SQL mirror: [[graft.OracleSql.srcg]]. */
  def srcGeom(spark: SparkSession): DataFrame = {
    val g = col("hydroid") % 3 + 1
    Synth.hydrotable(spark)
      .withColumn("length_km", StreamNet.lengthOf(col("hydroid")))
      .withColumn("slope", StreamNet.slopeOf(col("hydroid")))
      .withColumn("channel_n", lit(0.03) + (col("hydroid") % 6) * lit(0.01))
      .withColumn("overbank_n", lit(0.1) + (col("hydroid") % 4) * lit(0.025))
      .withColumn("area_base", (col("hydroid") % 13 + 5) * lit(100.0))
      .withColumn("surface_area", col("area_base") + g * lit(40.0) * col("stage"))
      .withColumn("volume",
        col("area_base") * col("stage") + g * lit(20.0) * col("stage") * col("stage"))
      .withColumn("bed_area", col("area_base") + g * lit(50.0) * col("stage"))
      .withColumn("bankfull_flow", ((col("hydroid") * 61 + 23) % 7000) / lit(10.0))
  }

  /** Bankfull identification (q52): per HydroID, the SRC row whose discharge
    * is closest to the NWM bankfull flow. argmin via min(struct(...)) — a
    * partial-aggregating SortAggregate (struct minima are sort-based, not
    * hash-based, but map-side combine still collapses the 84 knots per
    * HydroID before the shuffle, which is what matters at scale). The
    * (qdiff, stage) prefix reproduces pandas idxmin's first-row-wins
    * tie-break (the SRC is stage-ordered). */
  def bankfull(src: DataFrame): DataFrame =
    src.filter(col("stage") > 0.0)
      .withColumn("qdiff", abs(col("bankfull_flow") - col("discharge_cms")))
      .groupBy(col("hydroid"))
      .agg(min(struct(col("qdiff"), col("stage"), col("volume"), col("bed_area"),
        col("surface_area"))).as("m"))
      .select(col("hydroid"),
        col("m.stage").as("stage_bankfull"),
        col("m.volume").as("volume_bankfull"),
        col("m.bed_area").as("bedarea_bankfull"),
        col("m.surface_area").as("surfarea_bankfull"),
        col("m.qdiff").as("qdiff_bankfull"))

  /** x^(2/3) for the Manning recompute, as a fixed-point chain: y = cbrt(x²)
    * by 8 Newton iterations y ← (2y + x²/y²)/3 from y₀ = sqrt(sqrt(x²)).
    * Every step is IEEE +,*,/ (and sqrt, which is correctly rounded), so the
    * chain is bit-identical in ANY engine — unlike pow(x, 2.0/3), which
    * differs between the JVM and libm in ~1/500 values (measured). Verified
    * ≤ 4e-12 relative error vs pow over [1e-6, 1e6]. Built as one
    * withColumn per step: each y is referenced three times, which keeps
    * CollapseProject from inlining the chain into an exponential expression. */
  private def newtonCbrt(d0: DataFrame, x2: String, y: String): DataFrame = {
    var d = d0.withColumn(y, sqrt(sqrt(col(x2))))
    for (_ <- 0 until 8)
      d = d.withColumn(y, (lit(2.0) * col(y) + col(x2) / (col(y) * col(y))) / lit(3.0))
    d
  }

  /** Channel/overbank SRC subdivision + Manning recompute (q53), the np.where
    * ladder of `subdiv_chan_obank_src.py:218-291`:
    * in-channel volume/bed-area are clamped at bankfull (volume grows by the
    * bankfull surface area above it), overbank gets the remainder, and each
    * portion's discharge is recomputed as WetArea · HR^(2/3) · √slope / n. */
  def subdivide(src: DataFrame): DataFrame = {
    val bf = bankfull(src)
      .select("hydroid", "stage_bankfull", "volume_bankfull", "bedarea_bankfull",
        "surfarea_bankfull")
    val base = src.join(broadcast(bf), "hydroid")
      .withColumn("vol_chan",
        when(col("stage") <= col("stage_bankfull"), col("volume"))
          .otherwise(col("volume_bankfull")
            + (col("stage") - col("stage_bankfull")) * col("surfarea_bankfull")))
      .withColumn("bed_chan",
        when(col("stage") <= col("stage_bankfull"), col("bed_area"))
          .otherwise(col("bedarea_bankfull")))
      .withColumn("wp_chan",
        when(col("stage") <= col("stage_bankfull"),
          col("bed_chan") / col("length_km") / lit(1000.0))
          .otherwise(col("bed_chan") / col("length_km") / lit(1000.0)
            + (col("stage") - col("stage_bankfull")) * lit(2.0)))
      .withColumn("vol_ob",
        when(col("stage") > col("stage_bankfull"), col("volume") - col("vol_chan"))
          .otherwise(lit(0.0)))
      .withColumn("bed_ob",
        when(col("stage") > col("stage_bankfull"), col("bed_area") - col("bed_chan"))
          .otherwise(lit(0.0)))
      .withColumn("wp_ob", col("bed_ob") / col("length_km") / lit(1000.0))
      .withColumn("wa_chan", col("vol_chan") / col("length_km") / lit(1000.0))
      .withColumn("hr_chan",
        when(col("wp_chan") > 0.0, col("wa_chan") / col("wp_chan")).otherwise(lit(0.0)))
      .withColumn("wa_ob", col("vol_ob") / col("length_km") / lit(1000.0))
      .withColumn("hr_ob",
        when(col("wp_ob") > 0.0, col("wa_ob") / col("wp_ob")).otherwise(lit(0.0)))
      // guard the Newton chain away from x = 0 (stage 0 / below-bankfull
      // overbank rows): iterate on 1.0 there, select 0 discharge at the end —
      // the relational mirror of the reference's fillna(0) after inf-replace
      .withColumn("x2c",
        when(col("hr_chan") > 0.0, col("hr_chan") * col("hr_chan")).otherwise(lit(1.0)))
      .withColumn("x2o",
        when(col("hr_ob") > 0.0, col("hr_ob") * col("hr_ob")).otherwise(lit(1.0)))
    val n2 = newtonCbrt(newtonCbrt(base, "x2c", "yc"), "x2o", "yo")
    n2
      .withColumn("q_chan",
        when(col("hr_chan") > 0.0,
          col("wa_chan") * col("yc") * sqrt(col("slope")) / col("channel_n"))
          .otherwise(lit(0.0)))
      .withColumn("q_ob",
        when(col("hr_ob") > 0.0,
          col("wa_ob") * col("yo") * sqrt(col("slope")) / col("overbank_n"))
          .otherwise(lit(0.0)))
      .withColumn("q_subdiv", col("q_chan") + col("q_ob"))
  }

  /** Synthetic calibration observations (`src/src_adjust_spatial_obs.py`
    * analog): 3 observations per observed HydroID (every 23rd pair-start, lake
    * rows excluded), each pinned to an SRC stage knot with an observed
    * discharge that is a deterministic multiple of the SRC discharge —
    * the multiplier range [0.05, 10.04] exercises both Mann_flag branches. */
  def observations(spark: SparkSession): DataFrame =
    Synth.hydroids(spark)
      .filter(col("hydroid") % 23 < 2 && !Synth.isLake(col("hydroid")))
      .withColumn("j", explode(sequence(lit(0), lit(2))))
      .withColumn("ki", (col("hydroid") * 7 + col("j") * 31) % 84)

  /** Roughness calibration applied back to the SRC (q54):
    * coef = Qobs/Qsrc per observation; Mann_flag Pass iff the adjusted
    * channel/overbank n stay inside (0.001, 0.8) (`tools_shared_variables`
    * thresholds) and Qsrc > 0; per-HydroID MEDIAN of passing coefs (computed
    * as the mean of the ≤2 middle order statistics — identical arithmetic in
    * Spark and DuckDB, unlike each engine's native percentile interpolation);
    * per-feature-group mean fallback (`np.select` conditions); final coef
    * applied as discharge = precalb / coef with the 0-discharge mask kept. */
  /** Per-observation calibration coefficients (hydroid, j, qsrc, qobs, coef,
    * chn, obn) — the df_nvalues analog, shared by [[roughness]] (q54) and the
    * magnitude pivot (q60). */
  def obsCoefs(spark: SparkSession): DataFrame =
    observations(spark)
      .join(srcGeom(spark).select(col("hydroid"), col("i"), col("discharge_cms").as("qsrc"),
        col("channel_n"), col("overbank_n")).withColumnRenamed("i", "ki"),
        Seq("hydroid", "ki"))
      .withColumn("qobs",
        col("qsrc") * (((col("hydroid") * 31 + col("j") * 17) % 1000) / lit(100.0) + lit(0.05)))
      .withColumn("coef", col("qobs") / col("qsrc"))
      .withColumn("chn", col("coef") * col("channel_n"))
      .withColumn("obn", col("coef") * col("overbank_n"))

  /** Per-HydroID median calibration coefficient over Mann_flag-passing
    * observations (engine-exact median: mean of the ≤2 middle order stats). */
  def hydroidMedians(spark: SparkSession): DataFrame = {
    val passing = obsCoefs(spark).filter(col("qsrc") > 0.0 &&
      col("chn") < 0.8 && col("chn") > 0.001 && col("obn") < 0.8 && col("obn") > 0.001)
    val wOrd = Window.partitionBy(col("hydroid")).orderBy(col("coef"))
    val wAll = Window.partitionBy(col("hydroid"))
    passing
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === floor((col("n") + 1) / lit(2.0)) ||
        col("rn") === floor((col("n") + 2) / lit(2.0)))
      .groupBy(col("hydroid"))
      .agg((sum(col("coef")) / count(lit(1))).as("calb_hydroid"))
  }

  def roughness(spark: SparkSession): DataFrame = {
    val src = srcGeom(spark)
    val med = hydroidMedians(spark)
    val grp = med
      .withColumn("fg", col("hydroid") - col("hydroid") % 2)
      .groupBy(col("fg"))
      .agg((sum(col("calb_hydroid")) / count(lit(1))).as("calb_featgrp"))
    src.filter(col("hydroid") % 23 < 4 && col("i") % 7 === 0)
      .withColumn("fg", col("hydroid") - col("hydroid") % 2)
      .join(broadcast(med), Seq("hydroid"), "left")
      .join(broadcast(grp), Seq("fg"), "left")
      .withColumn("calb_coef_final", coalesce(col("calb_hydroid"), col("calb_featgrp")))
      .select(col("hydroid"), col("stage"),
        col("discharge_cms").as("precalb_cms"),
        col("calb_coef_final"),
        when(col("calb_coef_final").isNull, col("discharge_cms"))
          .when(col("discharge_cms") === 0.0, lit(0.0))
          .otherwise(col("discharge_cms") / col("calb_coef_final")).as("discharge_calb"),
        when(col("calb_coef_final").isNotNull, lit("True")).otherwise(lit("False"))
          .as("calb_applied"))
  }

  /** Sparse bathymetry survey table (eHydro analog): every 13th catchment
    * carries missing cross-section area / wetted perimeter corrections. */
  def bathyDim(spark: SparkSession): DataFrame =
    Synth.hydroids(spark)
      .filter(col("hydroid") % 13 === 0)
      .withColumn("missing_xs", ((col("hydroid") * 29 + 5) % 500) / lit(10.0))
      .withColumn("missing_wp", ((col("hydroid") * 17 + 3) % 200) / lit(10.0))

  /** Bathymetric SRC adjustment (q66) —
    * `src/bathymetric_adjustment.py:60-130` (eHydro path): merge the sparse
    * survey corrections into the SRC (fillna 0), add the missing volume /
    * bed area scaled by reach length, recompute wetted perimeter, hydraulic
    * radius and Manning discharge, and force zero discharge at stage 0. */
  def bathymetry(spark: SparkSession): DataFrame = {
    val src = srcGeom(spark).filter(col("hydroid") % 5 === 2 && col("i") % 7 === 0)
    val d = src.join(broadcast(bathyDim(spark)), Seq("hydroid"), "left")
      .withColumn("mxs", coalesce(col("missing_xs"), lit(0.0)))
      .withColumn("mwp", coalesce(col("missing_wp"), lit(0.0)))
      .withColumn("vol_adj", col("volume") + col("mxs") * (col("length_km") * lit(1000.0)))
      .withColumn("bed_adj", col("bed_area") + col("mwp") * (col("length_km") * lit(1000.0)))
      .withColumn("wp_adj",
        col("bed_area") / col("length_km") / lit(1000.0) + col("mwp"))
      .withColumn("wa_adj", col("vol_adj") / col("length_km") / lit(1000.0))
      .withColumn("hr_adj",
        when(col("wp_adj") > 0.0, col("wa_adj") / col("wp_adj")).otherwise(lit(0.0)))
      .withColumn("x2b",
        when(col("hr_adj") > 0.0, col("hr_adj") * col("hr_adj")).otherwise(lit(1.0)))
    newtonCbrt(d, "x2b", "yb")
      .withColumn("discharge_adj",
        when(col("stage") === 0.0, lit(0.0))
          .when(col("hr_adj") > 0.0,
            col("wa_adj") * col("yb") * sqrt(col("slope")) / col("channel_n"))
          .otherwise(lit(0.0)))
      .withColumn("bathy_source",
        when(col("missing_xs").isNotNull, lit("USACE eHydro")).otherwise(lit("")))
      .select(col("hydroid"), col("stage"), col("bathy_source"),
        col("vol_adj"), col("discharge_adj"))
  }

  /** Downstream group-coefficient application (q65) — the relational form of
    * `src_roughness_optimization.py`'s `branch_network_tracer` +
    * `group_manningn_calc` sequential walk: within each level path (ordered
    * upstream→downstream by arbolate distance), uncalibrated reaches within
    * [[GroupThreshKm]] of the most recent RUN of ≥2 consecutive calibrated reaches
    * inherit that run's mean coefficient.
    *
    * The per-branch scan becomes pure window algebra (gaps-and-islands):
    * sequential prefix sums give cumulative length/coefficient (evaluated in
    * the same row order in any engine — deterministic FP), and
    * last(..., ignoreNulls) carries the most recent island's end/base
    * state to every downstream row. No iteration, no driver loop. */
  def groupRoughness(spark: SparkSession): DataFrame = {
    val net = StreamNet.reaches(spark)
    val lp = StreamNet.levelPaths(spark, net)
      .select(col("hydroid"), col("levelpath_id"))
    val arbo = StreamNet.arbolate(spark, net)
      .select(col("hydroid"), col("arbolate_km"))
    val med = hydroidMedians(spark)
    val base = lp
      .join(net.select(col("hydroid"), col("length_km")), "hydroid")
      .join(arbo, "hydroid")
      .join(broadcast(med), Seq("hydroid"), "left")
    val ord = Window.partitionBy(col("levelpath_id"))
      .orderBy(col("arbolate_km"), col("hydroid"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = base
      .withColumn("is_calb", col("calb_hydroid").isNotNull.cast("int"))
      .withColumn("cumlen", sum(col("length_km")).over(run))
      .withColumn("cumcoef", sum(coalesce(col("calb_hydroid"), lit(0.0))).over(run))
      .withColumn("k", sum(col("calb_hydroid").isNotNull.cast("int")).over(run))
      .withColumn("prev_calb", coalesce(lag(col("is_calb"), 1).over(ord), lit(0)))
      .withColumn("island_start",
        (col("is_calb") === 1 && col("prev_calb") === 0).cast("int"))
    val d2 = d
      .withColumn("e_cumlen",
        last(when(col("is_calb") === 1, col("cumlen")), ignoreNulls = true).over(run))
      .withColumn("e_cumcoef",
        last(when(col("is_calb") === 1, col("cumcoef")), ignoreNulls = true).over(run))
      .withColumn("base_cumcoef",
        last(when(col("island_start") === 1, col("cumcoef") - col("calb_hydroid")),
          ignoreNulls = true).over(run))
      .withColumn("base_k",
        last(when(col("island_start") === 1, col("k") - 1), ignoreNulls = true).over(run))
    val groupCoef =
      when(col("is_calb") === 0 && col("e_cumlen").isNotNull &&
        col("cumlen") - col("e_cumlen") < GroupThreshKm && col("k") - col("base_k") > 1,
        (col("e_cumcoef") - col("base_cumcoef")) / (col("k") - col("base_k")))
    d2.select(col("hydroid").cast("long").as("hydroid"),
      col("levelpath_id").cast("long").as("levelpath_id"),
      col("is_calb"),
      when(col("is_calb") === 0, col("cumlen") - col("e_cumlen")).as("accum_dist"),
      groupCoef.as("group_calb_coef"),
      coalesce(col("calb_hydroid"), groupCoef).as("calb_final"))
  }

  /** Sierra test (q82) — `tools/rating_curve_comparison.py:83-260`: at each
    * NWM recurrence-interval flow (2/5/10/25/50-year) every gage site
    * interpolates BOTH its FIM SRC and its USGS rating curve (np.interp
    * semantics, [[RatingInterp.stageExpr]]) and reports the per-(gage,
    * interval) elevation difference — the reference's headline SRC-vs-USGS
    * evaluation. The USGS curve is a deterministically different Manning
    * parameterization of the same knot ladder.
    *
    * Scale shape: the recurrence dimension (5 rows per gage) broadcasts into
    * both knot scans; each interp is one partial-aggregating groupBy; the
    * final join is keyed on the (gage, interval) grain — all bounded. */
  def sierraTest(spark: SparkSession): DataFrame = {
    val gage = Synth.isGage(col("hydroid")) && !Synth.isLake(col("hydroid"))
    val fim = Synth.hydrotable(spark).filter(gage)
      .select(col("hydroid"), col("stage"), col("discharge_cms"))
    val usgs = Synth.stageKnots(Synth.hydroids(spark).filter(gage))
      .withColumn("discharge_cms", secondCurve)
      .select(col("hydroid"), col("stage"), col("discharge_cms"))
    val recurr = recurrenceFlows(spark, gage)
      .select(col("hydroid"),
        element_at(array(lit(2), lit(5), lit(10), lit(25), lit(50)), col("k") + 1)
          .as("interval"),
        col("flow").as("discharge"))
    def interpAt(knots: DataFrame, out: String): DataFrame =
      knots.join(broadcast(recurr), "hydroid")
        .groupBy(col("hydroid"), col("interval"), col("discharge"))
        .agg(RatingInterp.stageExpr.as(out))
    interpAt(fim, "fim_stage")
      .join(interpAt(usgs, "usgs_stage"), Seq("hydroid", "interval", "discharge"))
      .select(col("hydroid"), col("interval"), col("discharge").as("flow"),
        col("fim_stage"), col("usgs_stage"),
        (col("fim_stage") - col("usgs_stage")).as("elev_diff"))
  }

  /** USGS rating-trace calibration (q88) —
    * `src/src_adjust_usgs_rating_trace.py:195-299` (`trace_network` feeding
    * `update_rating_curve`): from every gaged catchment, the gage's
    * calibration coefficient propagates along the stream network upstream AND
    * downstream, stopping at `USGS_CALB_TRACE_DIST` (8 km), at the first
    * waterbody reach, and at branch changes (the reference breaks on
    * `order_ != start_order`; the engine's branch concept is the level path,
    * so the trace stays on the gage's level path — within one, positions are
    * the consecutive local grid rows `lr = (hydroid div 144) % 8`,
    * downstream = decreasing).
    *
    * Faithful walk quirks, reproduced exactly:
    *  - downstream: the gage reach itself is traced first; a reach whose
    *    CUMULATIVE length (gage..reach inclusive) reaches the distance cap is
    *    excluded, as is everything at/past the first lake reach (a lake AT
    *    the gage empties the downstream trace);
    *  - upstream: a reach joins the trace only when its OWN upstream
    *    continuation also exists and passes the length/lake checks — the
    *    reference appends `current_id` only after finding `next_id`, so the
    *    last reachable reach is dropped (bug-compatible off-by-one), the
    *    accumulated length runs one reach ahead, and the gage's own lake
    *    status is never checked upstream.
    *
    * Overlapping traces resolve nearest-gage-wins (min accumulated length,
    * ties to the lower gage id).
    *
    * Scale shape: the walk is pure window algebra over the level-path key
    * (prefix sums + prefix lake extrema + one lead) — partitions are
    * path-bounded, never corpus-bounded; the reach×gage join is an equi-join
    * on the path id with path-length-bounded fan-out. No iteration, no
    * driver-side walking. */
  /** The second Manning parameterization of the stage ladder, the USGS curve
    * of [[sierraTest]] and the ras2fim curve of [[ras2fimRating]]. */
  private def secondCurve: Column =
    (col("hydroid") % 9 + 2) * col("stage") +
      ((col("hydroid") % 4) * lit(0.3) + lit(0.4)) * col("stage") * col("stage")

  /** The NWM recurrence flows (2/5/10/25/50-year, `k` = 0..4) of the
    * catchments that pass `sites`: (hydroid, k, flow). */
  private def recurrenceFlows(spark: SparkSession, sites: Column): DataFrame =
    Synth.hydroids(spark).filter(sites)
      .withColumn("k", explode(sequence(lit(0), lit(4))))
      .withColumn("flow",
        (((col("hydroid") * 37 + 19) % 3000) / lit(10.0) + lit(10.0))
          * (lit(1.0) + col("k") * lit(0.8)))

  def usgsRatingTrace(spark: SparkSession): DataFrame = {
    val net = StreamNet.reaches(spark)
    val lp = StreamNet.levelPaths(spark, net)
    val base = net.join(lp, Seq("huc8", "hydroid"))
      .withColumn("lr", Synth.catRowOf(col("hydroid")).cast("long") % Synth.HucCatRows)
      .withColumn("lake", Synth.isLake(col("hydroid")).cast("int"))
      .select(col("hydroid"), col("levelpath_id"), col("lr"), col("length_km"), col("lake"))
    val wDown = Window.partitionBy(col("levelpath_id")).orderBy(col("lr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wUp = Window.partitionBy(col("levelpath_id")).orderBy(col("lr").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(col("levelpath_id")).orderBy(col("lr").asc)
    val walked = base
      .withColumn("cumdown", sum(col("length_km")).over(wDown))
      .withColumn("minlakeup", min(when(col("lake") === 1, col("lr"))).over(wDown))
      .withColumn("cumup", sum(col("length_km")).over(wUp))
      .withColumn("maxlakedown", max(when(col("lake") === 1, col("lr"))).over(wUp))
      .withColumn("len_next", lead(col("length_km"), 1).over(wLead))
    val traced = walked
      .withColumn("maxlakenext", lead(col("maxlakedown"), 1).over(wLead))
    val gages = traced.filter(Synth.isGage(col("hydroid")))
      .select(col("levelpath_id"), col("hydroid").as("gage_id"), col("lr").as("lr_g"),
        col("cumdown").as("cumdown_g"), col("cumup").as("cumup_g"),
        col("length_km").as("len_g"))
    val joined = traced.join(gages, "levelpath_id")
    val dist = lit(TraceDistKm)
    val down = joined
      .filter(col("lr") <= col("lr_g") &&
        col("cumdown") - col("cumdown_g") + col("len_g") < dist &&
        (col("minlakeup").isNull || col("minlakeup") > col("lr_g")))
      .select(col("hydroid"), col("gage_id"),
        (col("cumdown") - col("cumdown_g") + col("len_g")).as("dist_km"),
        lit(1).as("dir_down"))
    val up = joined
      .filter(col("lr") >= col("lr_g") + 1 && col("len_next").isNotNull &&
        col("cumup") - col("cumup_g") + col("len_next") < dist &&
        (col("maxlakenext").isNull || col("maxlakenext") <= col("lr_g")))
      .select(col("hydroid"), col("gage_id"),
        (col("cumup") - col("cumup_g") + col("len_next")).as("dist_km"),
        lit(0).as("dir_down"))
    down.unionByName(up)
      .groupBy(col("hydroid"))
      .agg(min(struct(col("dist_km"), col("gage_id"), col("dir_down"))).as("w"))
      .select(col("hydroid"), col("w.gage_id").as("gage_id"),
        col("w.dist_km").as("dist_km"), col("w.dir_down").as("dir_down"),
        (((col("w.gage_id") * 31 + 7) % 11 - 5) * lit(0.05) + lit(1.0))
          .as("calb_coef_usgs"))
  }

  /** ras2fim rating-curve calibration database (q97) —
    * `src/src_adjust_ras2fim_rating.py:50-202`
    * (`create_ras2fim_rating_database`): HEC-RAS cross-section rating curves
    * (location_id, discharge, WSE) are crosswalked to catchments, converted
    * to HAND stage (`hand = wse − hand_datum`, `:90`), sampled at each NWM
    * recurrence-interval flow by picking the curve row whose discharge is
    * CLOSEST to the recurrence flow (`Q_find` argmin per (location,
    * levelpath) × interval, `:144-147` — an as-of join, not interpolation),
    * then quality-gated: negative HAND rows are dropped (`:174-176`) and so
    * are rows where the nearest curve flow differs from the NWM flow by more
    * than 10 % (`check_variance`, `:149-152,180-183`).
    *
    * Synthetic sources: every 31st non-lake catchment carries a ras2fim
    * cross-section whose curve is a second Manning parameterization of the
    * engine's stage ladder with `hand = stage − 0.25` (so the stage-0 knot
    * exercises the negative-HAND gate); recurrence flows are the 5-interval
    * family. Scale shape: the recurrence dimension broadcasts into the knot
    * scan; the argmin is one partial-aggregating min(struct) per (location,
    * interval); every join is keyed on the location grain. */
  def ras2fimRating(spark: SparkSession): DataFrame = {
    val xs = col("hydroid") % 31 === 5 && !Synth.isLake(col("hydroid"))
    val curve = Synth.hydrotable(spark).filter(xs)
      .select(col("hydroid"), col("huc8"), col("stage"), secondCurve.as("q_ras"),
        (col("stage") - lit(0.25)).as("hand"))
    val recurr = recurrenceFlows(spark, xs)
      .select(col("hydroid"), col("k"),
        element_at(array(lit("2_0_year"), lit("5_0_year"), lit("10_0_year"),
          lit("25_0_year"), lit("50_0_year")), col("k").cast("int") + 1).as("nwm_recur"),
        col("flow").as("nwm_recur_flow_cms"))
    curve.join(broadcast(recurr), "hydroid")
      .withColumn("qdiff", abs(col("q_ras") - col("nwm_recur_flow_cms")))
      // huc8 is functionally dependent on hydroid — a free extra group key
      .groupBy(col("hydroid"), col("huc8"), col("nwm_recur"), col("nwm_recur_flow_cms"))
      .agg(min(struct(col("qdiff"), col("stage"), col("hand"), col("q_ras"))).as("m"))
      .withColumn("check_variance",
        abs((col("m.q_ras") - col("nwm_recur_flow_cms")) / col("m.q_ras")))
      .filter(col("m.hand") > 0.0 && col("check_variance") < 0.1)
      .select(concat(lit("xs_"), col("hydroid")).as("location_id"),
        col("hydroid"), Synth.featureIdOf(col("hydroid")).as("feature_id"), col("huc8"),
        col("nwm_recur"), col("m.hand").as("hand"),
        col("m.q_ras").as("discharge_cms"), col("nwm_recur_flow_cms"),
        col("check_variance"))
  }

  /** Manual calibration overrides (q92) — `src/src_manual_calibration.py:
    * 50-128`: an operator-supplied (feature_id, coefficient) table is merged
    * over the hydrotable; where a coefficient exists the published discharge
    * becomes `postcalb / coef` (coef < 1 raises discharge, > 1 lowers it),
    * the pre-manual value is preserved under its own column, and provenance
    * is recorded (`calb_applied`). The operator table is tiny — it
    * broadcasts; the hydrotable never shuffles. Knots are thinned 12× for
    * the verification dump (the merge itself is per-row). */
  def manualCalibration(spark: SparkSession): DataFrame = {
    val manual = Synth.hydroids(spark)
      .select(Synth.featureIdOf(col("hydroid")).as("feature_id"))
      .filter(col("feature_id") % 37 === 0)
      .withColumn("calb_coef_manual", (col("feature_id") % 9 + 2) / lit(4.0))
    Synth.hydrotable(spark)
      .filter(col("i") % 7 === 0)
      .withColumnRenamed("discharge_cms", "postcalb_discharge_cms")
      .join(broadcast(manual), Seq("feature_id"), "left")
      .select(col("hydroid"), col("feature_id"), col("i").cast("long").as("i"),
        col("stage"), col("postcalb_discharge_cms"), col("calb_coef_manual"),
        when(col("calb_coef_manual").isNull, col("postcalb_discharge_cms"))
          .otherwise(col("postcalb_discharge_cms") / col("calb_coef_manual"))
          .as("discharge_cms"),
        col("calb_coef_manual").isNotNull.cast("int").as("calb_applied"))
  }

  /** Full-channel geometry derivation shared by [[finalizeSrcs]] and
    * [[resetMannings]] — `src/finalize_srcs.py:26-37` column for column:
    * TopWidth / WettedPerimeter / WetArea from the per-km geometry, the
    * HydraulicRadius fillna(0) guard (kept as an explicit `when` both
    * engines — an unguarded ratio is a DuckDB-NULL vs Spark-Inf parity
    * break), and the Newton x^(2/3) chain seeded away from 0. */
  private def fullGeom(src: DataFrame): DataFrame = {
    val base = src
      .withColumn("top_width", col("surface_area") / col("length_km") / lit(1000.0))
      .withColumn("wetted_perimeter", col("bed_area") / col("length_km") / lit(1000.0))
      .withColumn("wet_area", col("volume") / col("length_km") / lit(1000.0))
      .withColumn("hydraulic_radius",
        when(col("wetted_perimeter") > 0.0, col("wet_area") / col("wetted_perimeter"))
          .otherwise(lit(0.0)))
      .withColumn("x2f",
        when(col("hydraulic_radius") > 0.0,
          col("hydraulic_radius") * col("hydraulic_radius")).otherwise(lit(1.0)))
    newtonCbrt(base, "x2f", "yf")
  }

  /** Manning discharge off [[fullGeom]] columns with the given roughness
    * column: 0 at stage 0 (`finalize_srcs.py:40`) and 0 where the
    * hydraulic radius is 0 (the reference's inf/nan → 0 path). */
  private def manningQ(n: Column): Column =
    when(col("stage") === 0.0, lit(0.0))
      .otherwise(when(col("hydraulic_radius") > 0.0,
        col("wet_area") * col("yf") * sqrt(col("slope")) / n).otherwise(lit(0.0)))

  /** SRC finalize (q103) — `src/finalize_srcs.py:12-62` +
    * `src/update_htable_src.py:26-52`: the base SRC merged with the
    * crosswalked ManningN, all hydraulic columns re-derived, discharge
    * recomputed via Manning (x^(2/3) as the bit-portable Newton chain),
    * stage-0 rows zeroed, and the hydrotable's (stage, discharge) replaced
    * by the finalized curve (the reference's drop + right-merge). Pure
    * per-row map work over the knot table — no shuffle at all. */
  def finalizeSrcs(spark: SparkSession): DataFrame =
    fullGeom(srcGeom(spark))
      .select(col("hydroid"), col("feature_id"), col("i").cast("long").as("i"),
        col("stage"), col("top_width"), col("wetted_perimeter"), col("wet_area"),
        col("hydraulic_radius"), manningQ(col("channel_n")).as("discharge_cms"))

  /** Manning's-N reset + small-segment donor replacement (q104) —
    * `src/reset_mannings.py:13-246` end to end:
    *
    *  1. `override_mannings(:100-104)`: every reach's roughness becomes one
    *     constant ([[ResetN]]) and discharge is recomputed (`calculate_discharge
    *     :106-118`, same Manning algebra as q103).
    *  2. `identify_small_reaches(:120-219)`: reaches with catchment area
    *     < 0.25 km², length < 1.2 km and no lake take a donor — the
    *     max-order upstream neighbor (first row on ties, = lowest id in the
    *     id-ordered frame), the single upstream when there is one (same
    *     argmin), else the downstream reach, else self.
    *  3. `replace_discharges_of_small_segments(:219-246)`: the short
    *     reach's per-stage discharges become the donor's. The reference
    *     loops in id order over an in-place frame, so a small HEADWATER
    *     whose downstream donor (lower id, already processed) is itself
    *     small receives that donor's REPLACED curve — i.e. the donor's own
    *     upstream donor's original values. Donor ids point upstream (higher
    *     id, not yet processed) in every other case, so chains stop at
    *     depth 2; the closed form below resolves exactly that.
    *
    * Donor selection is a packed-BIGINT argmin ((8−order)·2²⁴ + id) over
    * one upstream aggregation; replacement is two broadcast joins (the
    * small-reach table and the donor-curve subset are both tiny). The knot
    * table itself never shuffles. */
  /** The donor resolution of `identify_small_reaches` +
    * `replace_discharges_of_small_segments`, as a closed form over a reach
    * table with (hydroid, order_, length_km, to_node, areasqkm, is_lake).
    * Returns (hydroid, donor_id, is_small): donor_id is the reach whose
    * ORIGINAL curve the reference's in-place id-ordered loop ends up
    * writing — upstream donors (higher id) are processed later so their
    * originals apply; a small HEADWATER's downstream donor (lower id) was
    * already replaced, so the headwater receives that donor's own donor1
    * (the depth-2 chain; longer chains cannot occur because every
    * further link points upstream again). Package-private so the spec can
    * drive the chain case with a crafted net — the synthetic net's area
    * closed form makes it structurally unreachable (a small reach's
    * same-column downstream sits 8 area-index slots away, outside the
    * small band). */
  private[ops] def smallSegmentDonors(rs: DataFrame): DataFrame = {
    val ups = rs.filter(col("to_node") >= 0)
      .groupBy(col("to_node").as("hydroid"))
      .agg(count(lit(1)).as("n_up"),
        min((lit(8) - col("order_")).cast("long") * 16777216L + col("hydroid"))
          .as("upk"))
    val dn1 = rs.join(ups, Seq("hydroid"), "left")
      .withColumn("small",
        col("areasqkm") < 0.25 && col("length_km") < 1.2 && !col("is_lake"))
      .withColumn("donor1",
        when(col("n_up") >= 1, (col("upk") % 16777216L).cast("int"))
          .otherwise(when(col("to_node") >= 0, col("to_node"))
            .otherwise(col("hydroid"))))
      .withColumn("headwater", col("n_up").isNull)
      .select(col("hydroid"), col("small"), col("donor1"), col("headwater"))
    dn1.as("a")
      .join(broadcast(dn1.select(col("hydroid").as("donor1"),
        col("small").as("d_small"), col("donor1").as("d_donor1"))), Seq("donor1"), "left")
      .select(col("hydroid"),
        when(!col("small"), lit(null).cast("int"))
          .when(col("headwater") && col("d_small"), col("d_donor1"))
          .otherwise(col("donor1")).as("donor_id"),
        col("small").cast("int").as("is_small"))
  }

  def resetMannings(spark: SparkSession, reachesDf: DataFrame): DataFrame = {
    val src2 = fullGeom(srcGeom(spark))
      .select(col("hydroid"), col("i").cast("long").as("i"), col("stage"),
        manningQ(lit(ResetN)).as("q_reset"))
    val rs = reachesDf.select(col("hydroid"), col("order_"), col("length_km"),
      col("to_node"),
      (((col("hydroid") * 7 + 3) % 40) / lit(20.0)).as("areasqkm"),
      Synth.isLake(col("hydroid")).as("is_lake"))
    val d2 = smallSegmentDonors(rs)
    val donorIds = d2.filter(col("donor_id").isNotNull)
      .select(col("donor_id")).distinct()
    val donorCurves = src2.join(broadcast(donorIds),
      src2("hydroid") === donorIds("donor_id"))
      .select(col("donor_id"), col("i"), col("q_reset").as("donor_q"))
    src2.join(broadcast(d2), Seq("hydroid"))
      .join(broadcast(donorCurves), Seq("donor_id", "i"), "left")
      .select(col("hydroid"), col("i"), col("stage"),
        lit(ResetN).as("manning_n"),
        when(col("donor_id").isNotNull, col("donor_q")).otherwise(col("q_reset"))
          .as("discharge_cms"),
        col("donor_id").cast("long").as("donor_id"), col("is_small"))
  }

  /** Composite variable Manning's roughness (q107) —
    * `tools/vary_mannings_n_composite.py:41-185` +
    * `src/identify_src_bankfull.py:159-171` (the channel-volume ratio the
    * routine composites on):
    *
    *  - ratio = 1 at stage 0, else Volume_bankfull / Volume capped at 1,
    *    forced to 0 when the bankfull flow estimate is non-positive.
    *  - an external roughness table (channel_n, overbank_n per feature_id,
    *    deterministically INCOMPLETE — every 17th feature missing) is
    *    broadcast-merged; comp_n = ratio·channel_n + (1−ratio)·overbank_n.
    *  - vmann_on marks rows with a composite; discharge is recomputed via
    *    Manning with comp_n where on, and falls back to the original
    *    discharge and roughness where the merge missed
    *    (`vary_mannings_n_composite.py:152-158` np.where resets).
    *
    * One broadcast of the bankfull dimension, one broadcast of the
    * roughness table, per-row algebra everywhere else — the knot table
    * never shuffles. */
  def variableMannings(spark: SparkSession): DataFrame = {
    val src = srcGeom(spark)
    val bf = bankfull(src).select("hydroid", "volume_bankfull")
    val mann = Synth.hydroids(spark)
      .select(Synth.featureIdOf(col("hydroid")).as("feature_id"))
      .filter(col("feature_id") % 17 =!= 4)
      .withColumn("vm_channel_n", lit(0.02) + (col("feature_id") % 9) * lit(0.005))
      .withColumn("vm_overbank_n", lit(0.08) + (col("feature_id") % 5) * lit(0.02))
    val base = fullGeom(src)
      .join(broadcast(bf), Seq("hydroid"))
      .join(broadcast(mann), Seq("feature_id"), "left")
      .withColumn("ratio0",
        when(col("stage") === 0.0, lit(1.0))
          .otherwise(col("volume_bankfull") / col("volume")))
      .withColumn("chann_volume_ratio",
        when(col("bankfull_flow") > 0.0,
          when(col("ratio0") <= 1.0, col("ratio0")).otherwise(lit(1.0)))
          .otherwise(lit(0.0)))
      .withColumn("comp_n",
        col("chann_volume_ratio") * col("vm_channel_n")
          + (lit(1.0) - col("chann_volume_ratio")) * col("vm_overbank_n"))
      .withColumn("vmann_on", col("comp_n").isNotNull)
    base.select(col("hydroid"), col("feature_id"), col("i").cast("long").as("i"),
      col("stage"), col("chann_volume_ratio"),
      col("vmann_on").cast("int").as("vmann_on"),
      when(col("vmann_on"), col("comp_n")).otherwise(col("channel_n"))
        .as("vmann_manning_n"),
      when(!col("vmann_on"), col("discharge_cms"))
        .otherwise(when(col("hydraulic_radius") > 0.0,
          col("wet_area") * col("yf") * sqrt(col("slope")) / col("comp_n"))
          .otherwise(lit(0.0))).as("vmann_discharge_cms"))
  }
}
