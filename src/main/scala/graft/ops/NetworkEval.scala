package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Network-quality evaluation family — the reference's crosswalk/continuity
  * diagnostics and the branch-outlet backpool mitigation, re-expressed as
  * join/aggregate algebra over the synthetic reach network:
  *
  *  - [[crosswalkEval]] (q96) — `tools/evaluate_crosswalk.py:13-287`
  *  - [[continuity]]    (q98) — `tools/evaluate_continuity.py:14-121`
  *  - [[backpool]]      (q99) — `src/mitigate_branch_outlet_backpool.py:43-60,
  *    159-246`
  *
  * All of it is per-HUC bounded work: self-joins on the reach adjacency
  * (fan-out ≤ the confluence degree), per-HUC aggregations, and row-wise
  * expression algebra — no iteration, no driver-side walking, no windows
  * over unbounded partitions.
  */
object NetworkEval {

  private val SlopeMin = 0.002 // backpool's slope_min clamp

  /** The evaluated crosswalk: the true mapping hydroid → feature_id
    * (1000000 + hydroid) with a deterministic ~9 % error injection — every
    * 11th reach (offset 3) is crosswalked to its DOWNSTREAM neighbor's
    * feature, the classic conflation failure `evaluate_crosswalk.py` exists
    * to measure. */
  def crosswalked(spark: SparkSession): DataFrame =
    StreamNet.reaches(spark)
      .select(col("hydroid"), col("huc8"), col("to_node"),
        Synth.featureIdOf(
          when(col("hydroid") % 11 === 3 && col("to_node") >= 0, col("to_node"))
            .otherwise(col("hydroid"))).as("xw_fid"))

  /** Crosswalk evaluation (q96) — `tools/evaluate_crosswalk.py:13-76`:
    * per HUC, both accuracy methods as one relational plan.
    *
    * Method "intersections" (`_evaluate_crosswalk_intersections:79-150`):
    * each DEM-derived reach is paired with every NWM line it touches
    * geometrically (itself — 2 intersection points, a line overlap — plus
    * each graph neighbor at 1 shared node); a pairing is scored correct when
    * `match` (the crosswalked feature IS this candidate) agrees with `max`
    * (this candidate has the most intersections — always the reach's own
    * line, the reference's `intersect_points_x == intersect_points_y`).
    *
    * Method "network" (`_evaluate_crosswalk_network:153-287`): for every
    * reach, the crosswalked features of its upstream reaches must equal —
    * as SETS — the NWM features upstream of its crosswalked feature.
    * Status coding follows the reference: 3 = headwater (upstream is a
    * headwater point), −1 = own feature appears upstream (duplicate,
    * excluded from the denominator), 0 = sets agree, 1 = disagree.
    *
    * Output: one row per (huc8, method) with correct / total / proportion —
    * the reference's summary table (`evaluate_crosswalk.py:61-73`), at HUC
    * grain instead of one (huc, branch) pair per process invocation. */
  def crosswalkEval(spark: SparkSession): DataFrame = {
    val xw = crosswalked(spark)
    // upstream adjacency (u flows into h)
    val ups = StreamNet.reaches(spark).filter(col("to_node") >= 0)
      .select(col("to_node").as("hydroid"), col("hydroid").as("up_id"))

    // ---- method 1: intersection counts --------------------------------
    val self = xw.select(col("huc8"), col("hydroid"), col("xw_fid"),
      Synth.featureIdOf(col("hydroid")).as("cand_fid"), lit(2).as("ipts"))
    val down = xw.filter(col("to_node") >= 0)
      .select(col("huc8"), col("hydroid"), col("xw_fid"),
        Synth.featureIdOf(col("to_node")).as("cand_fid"), lit(1).as("ipts"))
    val up = xw.join(ups, "hydroid")
      .select(col("huc8"), col("hydroid"), col("xw_fid"),
        Synth.featureIdOf(col("up_id")).as("cand_fid"), lit(1).as("ipts"))
    // the reach's own line always has the intersection maximum (2), so
    // `max` ⇔ ipts = 2; correct ⇔ match agrees with max
    val m1 = self.unionByName(down).unionByName(up)
      .groupBy(col("huc8"))
      .agg(count(when((col("cand_fid") === col("xw_fid")) === (col("ipts") === 2), 1))
          .as("correct"),
        count(lit(1)).as("total"))

    // ---- method 2: upstream connectivity ------------------------------
    val upFids = xw.join(ups, "hydroid")
      .join(xw.select(col("hydroid").as("up_id"), col("xw_fid").as("up_xw_fid")),
        "up_id")
      .groupBy(col("hydroid"))
      .agg(sort_array(collect_set(col("up_xw_fid"))).as("upstream_fids"))
    // NWM upstream features of feature f = features of the reaches flowing
    // into reach (f − 1000000): the NWM network is the same graph keyed by
    // feature ids
    val nwmFids = ups
      .select(Synth.featureIdOf(col("hydroid")).as("fid"),
        Synth.featureIdOf(col("up_id")).as("nwm_up_fid"))
      .groupBy(col("fid"))
      .agg(sort_array(collect_set(col("nwm_up_fid"))).as("nwm_fids"))
    val status = xw
      .join(upFids, Seq("hydroid"), "left")
      .join(nwmFids, col("xw_fid") === col("fid"), "left")
      .select(col("huc8"),
        when(col("upstream_fids").isNull, lit(3))
          .when(array_contains(col("upstream_fids"), col("xw_fid")), lit(-1))
          .when(col("upstream_fids") ===
            coalesce(col("nwm_fids"), array().cast("array<bigint>")), lit(0))
          .otherwise(lit(1)).as("status"))
    val m2 = status.filter(col("status") >= 0)
      .groupBy(col("huc8"))
      .agg(count(when(col("status") === 0, 1)).as("correct"),
        count(lit(1)).as("total"))

    m1.withColumn("method", lit("intersections"))
      .unionByName(m2.withColumn("method", lit("network")))
      .select(col("huc8"), col("method"), col("correct"), col("total"),
        (col("correct").cast("double") / col("total").cast("double")).as("proportion"))
  }

  /** Confluence-forming forecast network for the continuity check: the
    * DEM-derived reach net ([[StreamNet.reaches]]) maps columns by a
    * permutation — no merges — but the NWM forecast network the reference
    * evaluates HAS confluences, so q98 gets its own deterministic merge
    * topology: local column lc flows to column lc/2 of the next row down
    * (integer halving — every receiving reach in columns 0–3 is a 2-way
    * confluence, the mass-balance case `evaluate_continuity.py` exists
    * for). */
  def confluenceNet(spark: SparkSession): DataFrame =
    StreamNet.reachNet(spark, lc => floor(lc / 2))

  /** Flow-continuity evaluation (q98) — `tools/evaluate_continuity.py:14-121`:
    * per confluence reach, the forecast discharge must equal the SUM of its
    * upstream reaches' discharges (mass balance); the per-reach error is
    * scored with SAPE (the per-row term of the reference's SMAPE,
    * `evaluate_continuity.py:123-128`). The forecast is deliberately SPARSE
    * (every 5th feature missing, offset 2) so the reference's
    * `fillna(0)` path (`:22`) is exercised.
    *
    * Exactness: discharges are tenths-valued, so the upstream sum is taken
    * over the exact INTEGER tenths (BIGINT, order-insensitive) and divided
    * by 10 once — bit-identical at any partitioning, unlike a float sum.
    * SAPE with a zero denominator (both flows 0) is NULL — the relational
    * form of numpy's nan. */
  def continuity(spark: SparkSession): DataFrame = {
    val flows = confluenceNet(spark)
      .withColumn("feature_id", Synth.featureIdOf(col("hydroid")))
      // integer tenths of the forecast discharge; 0 where the forecast has
      // no row for the feature (fillna(0))
      .withColumn("qt",
        when(col("feature_id") % 5 =!= 2, Synth.forecastTenths(col("feature_id")))
          .otherwise(lit(0L)))
      .withColumn("discharge", col("qt") / lit(10.0))
    val upAgg = flows.filter(col("to_node") >= 0)
      .groupBy(col("to_node").as("hydroid"))
      .agg(sum(col("qt")).as("exp_tenths"), count(lit(1)).as("n_up"))
    flows.join(upAgg, "hydroid")
      .filter(col("n_up") > 1) // confluences only (confluences_only=True)
      .withColumn("expected_discharge", col("exp_tenths") / lit(10.0))
      .withColumn("diff", col("discharge") - col("expected_discharge"))
      .withColumn("sape",
        when(abs(col("discharge")) + abs(col("expected_discharge")) =!= 0.0,
          lit(100.0) * abs(col("diff"))
            / (abs(col("discharge")) + abs(col("expected_discharge")))))
      .select(col("hydroid"), col("huc8"), col("n_up"), col("discharge"),
        col("expected_discharge"), col("diff"), col("sape"),
        (col("discharge") === 0.0).cast("int").as("no_flow"))
  }

  /** Branch-outlet backpool mitigation (q99) —
    * `src/mitigate_branch_outlet_backpool.py:43-90`
    * (`catch_catchment_size_outliers`: per-unit catchment pixel counts, a
    * catchment is an outlier when its count deviates from the unit mean by
    * more than one SAMPLE standard deviation) + `:95-120` (`check_if_outlet`:
    * mitigate only when the flagged catchment sits at a branch outlet) +
    * `:159-246` (`snap_and_trim_splitflow` / `calculate_length_and_slope`:
    * trim the outlet flowline and recompute its length and slope, clamped at
    * `slope_min`).
    *
    * Exactness: mean and sample std are computed from exact BIGINT count
    * sums (n·Σx² − (Σx)² over n·(n−1)) with ONE division and ONE sqrt — no
    * float accumulation, so the outlier verdict is partitioning-invariant.
    * The geometric trim is deterministic: the flagged outlet reach loses
    * the backpool quarter of its length (×0.75, dyadic) and its slope
    * rescales by the inverse length ratio before the `slope_min` clamp. */
  def backpool(spark: SparkSession, points: DataFrame): DataFrame = {
    val counts = SpatialJoin.assign(spark, points)
      .groupBy(col("hydroid").cast("long").as("hydroid"), col("huc8"))
      .agg(count(lit(1)).as("n_pts"))
    val stats = counts.groupBy(col("huc8"))
      .agg(count(lit(1)).as("n_cat"),
        sum(col("n_pts")).as("sum_n"),
        sum(col("n_pts") * col("n_pts")).as("sum_sq"))
      .withColumn("mean_pts", col("sum_n").cast("double") / col("n_cat").cast("double"))
      .withColumn("std_pts",
        when(col("n_cat") > 1,
          sqrt((col("n_cat") * col("sum_sq") - col("sum_n") * col("sum_n")).cast("double")
            / (col("n_cat") * (col("n_cat") - 1)).cast("double"))))
    val outlets = StreamNet.reaches(spark).filter(col("to_node") === -1)
      .select(col("hydroid").cast("long").as("hydroid"), col("huc8"), col("length_km"))
      .withColumn("slope", StreamNet.slopeOf(col("hydroid")))
    outlets
      .join(counts, Seq("hydroid", "huc8")) // inner: catchment present in raster
      .join(broadcast(stats.select(col("huc8"), col("mean_pts"), col("std_pts"))), "huc8")
      .withColumn("flagged",
        when(abs(col("n_pts").cast("double") - col("mean_pts")) > col("std_pts"), 1)
          .otherwise(0))
      .withColumn("trimmed_length_km",
        when(col("flagged") === 1, col("length_km") * lit(0.75))
          .otherwise(col("length_km")))
      .withColumn("slope_adj",
        when(col("flagged") === 1,
          greatest(col("slope") * col("length_km") / col("trimmed_length_km"),
            lit(SlopeMin)))
          .otherwise(col("slope")))
      .select(col("hydroid"), col("huc8"), col("n_pts"), col("mean_pts"),
        col("std_pts"), col("flagged"), col("length_km"), col("trimmed_length_km"),
        col("slope"), col("slope_adj"))
  }
}
