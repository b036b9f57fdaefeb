package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Cells, GridIndex}

/** Evaluation lifecycle — SURVEY.md §3.3 (`tools/tools_shared_functions.py`):
  * predicted vs benchmark extents per cell → agreement class → contingency
  * metrics. Class coding follows the reference
  * (`tools_shared_functions.py:400-406,442-455`):
  *   0 TN / 1 FN / 2 FP / 3 TP / 4 masked.
  *
  * The synthetic benchmark extent is a pure function of the cell id (row/col
  * hash), mirroring the driver-side oracle bit-for-bit; masked cells are the
  * exclusion-polygon analog (`tools_shared_functions.py:457-509`).
  */
object Agreement {

  private val FullCellAreaM2 = 25000000.0 // fullMetrics' cell_area_m2
  private val AlphaCellAreaM2 = 100.0 // the reference's 10 m pixels (test_case_by_hydro_id.py:92)
  private val MasterVersion = "graft_r2" // masterMetrics' version column
  private val PrevThresholdDelta = 0.25 // versionRegression's previous release

  /** Benchmark wet flag per cell (0/1) — deterministic extent synth. */
  def benchWet(cell: Column): Column =
    ((Cells.rowOfCol(cell) * 31 + Cells.colOfCol(cell) * 17) % 10 < 4).cast("int")

  /** Legacy hash exclusion mask — kept for the multi-benchmark combos (q56),
    * where every combo derives a synthetic extent family from the cell id.
    * The evaluation path proper ([[agreement]]) masks by REAL exclusion
    * polygons ([[graft.synth.Synth.maskList]]). */
  def isMasked(cell: Column): Column =
    (Cells.rowOfCol(cell) * 29 + Cells.colOfCol(cell) * 13) % 50 === 0

  /** mosaic + `mskd` flag (INT; 1 ⇔ the cell centroid falls inside an
    * exclusion mask polygon): one projection, the codegen'd lookup of the
    * centroid in the broadcast mask index ([[SpatialJoin.maskOf]]). No
    * join and no exchange; the mosaic's columns keep their order. */
  def withMaskFlag(spark: SparkSession, mosaic: DataFrame): DataFrame =
    mosaic.withColumn("mskd", (SpatialJoin.maskOf(spark, col("cell")) =!= GridIndex.Miss).cast("int"))

  /** mosaic(cell, depth_max, …) → (cell, agreement), with the exclusion-mask
    * class (4) decided by the REAL mask polygons
    * (`tools_shared_functions.py:457-509`), not a hash. */
  def agreement(spark: SparkSession, mosaic: DataFrame): DataFrame =
    withMaskFlag(spark, mosaic).select(
      col("cell"),
      when(col("mskd") === 1, lit(4))
        .otherwise((col("depth_max") > 0).cast("int") * 2 + benchWet(col("cell")))
        .cast("int").as("agreement"))

  /** The reference's DEFAULT pairing dictionary
    * (`tools_shared_functions.py:442-455`): (candidate_class,
    * benchmark_class) → agreement, candidate 4 = masked-by-polygon. The
    * nodata rows ((·,10)/(10,·) → 10) are omitted — the synthetic mosaic has
    * no nodata cells; [[graft.ops.Terrain]] owns nodata semantics. */
  val DefaultPairing: Seq[(Int, Int, Int)] =
    Seq((0, 0, 0), (0, 1, 1), (1, 0, 2), (1, 1, 3), (4, 0, 4), (4, 1, 4))

  /** A non-default multi-threshold pairing (q114): candidate is a 3-class
    * depth bin (0 dry / 1 shallow / 2 deep), agreement 0-5 = bin×bench,
    * 6 = masked — the "custom class pairing" a gval user would pass. */
  val DepthClassPairing: Seq[(Int, Int, Int)] =
    Seq((0, 0, 0), (0, 1, 1), (1, 0, 2), (1, 1, 3), (2, 0, 4), (2, 1, 5),
      (4, 0, 6), (4, 1, 6))

  def pairingTable(spark: SparkSession, pairing: Seq[(Int, Int, Int)]): DataFrame = {
    import spark.implicits._
    pairing.toDF("cand", "bench", "agreement")
  }

  /** gval-style agreement from an ARBITRARY pairing dictionary — the
    * generalized form of [[agreement]]: the (candidate, benchmark) →
    * agreement map arrives as a TABLE (broadcast, a handful of rows), not a
    * hard-coded `when`-ladder, so a user with a custom multi-class pairing
    * passes data instead of extending Scala
    * (`tools_shared_functions.py:442-455`'s configurable
    * `pairing_dictionary`). Masking stays faithful to the reference: the
    * candidate class is overwritten to 4 by the exclusion polygons and the
    * pairing table itself decides what (4, ·) maps to. With
    * [[DefaultPairing]] and a wet/dry candidate this reproduces
    * [[agreement]] bit-for-bit (spec-asserted). */
  def agreementWithPairing(spark: SparkSession, mosaic: DataFrame,
      candidateClass: Column, pairing: DataFrame): DataFrame =
    withMaskFlag(spark, mosaic)
      .select(col("cell"),
        when(col("mskd") === 1, lit(4)).otherwise(candidateClass).cast("int").as("cand"),
        benchWet(col("cell")).cast("int").as("bench"))
      .join(broadcast(pairing), Seq("cand", "bench"), "left")
      .select(col("cell"), col("agreement").cast("int").as("agreement"))

  /** `num / den`, NULL where `den` is zero: the oracle's (DuckDB's) double
    * division, which Spark's ANSI mode would fail with DIVIDE_BY_ZERO.
    * Bit for bit the plain quotient wherever `den` is not zero. */
  private def div(num: Column, den: Column): Column = when(den =!= 0.0, num / den)

  /** An evaluation's contingency counts as the doubles every statistic
    * divides: each BIGINT count cast on use, the total summed in BIGINT
    * first — the oracle's `CAST(x AS DOUBLE)` / `CAST(tn + … AS DOUBLE)`. */
  private final class Counts(tnC: Column, fnC: Column, fpC: Column, tpC: Column) {
    val tn = tnC.cast("double"); val fn = fnC.cast("double")
    val fp = fpC.cast("double"); val tp = tpC.cast("double")
    val tot = (tnC + fnC + fpC + tpC).cast("double")
    val aref = div((tp + fp) * (tp + fn), tot)
  }

  /** One contingency statistic from count columns, by the oracle's name
    * (`EvaluationQueries.metricSql`; `tools_shared_functions.py:1666-1689`,
    * `:277-380`): NULL where the statistic's zero-denominator guard is
    * zero, as the oracle's division gives NULL there — the reference's
    * `compute_stats_from_contingency_table` returns 'NA' on
    * ZeroDivisionError. */
  private[graft] def naStat(name: String, tn: Column, fn: Column, fp: Column, tp: Column): Column =
    guarded(name, new Counts(tn, fn, fp, tp))

  private def guarded(name: String, c: Counts): Column = {
    val (value, guard) = formula(name, c)
    when(guard =!= 0.0, value)
  }

  /** Each statistic's formula and zero-denominator guard — the only place
    * either is written. A ratio is guarded by its denominator, mcc by the
    * product under its root, bal_acc by the product of its two
    * denominators. */
  private def formula(name: String, c: Counts): (Column, Column) = {
    import c._
    def ratio(num: Column, den: Column) = (num / den, den)
    name match {
      case "csi" => ratio(tp, tp + fp + fn)
      case "tpr" => ratio(tp, tp + fn)
      case "far" => ratio(fp, tp + fp)
      case "mcc" =>
        val d = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        ((tp * tn - fp * fn) / sqrt(d), d)
      case "acc" => ratio(tp + tn, tp + tn + fp + fn)
      case "f1" => ratio(tp * 2, tp * 2 + fp + fn)
      case "bias" => ratio(tp + fp, tp + fn)
      case "tnr" => ratio(tn, tn + fp)
      case "ppv" => ratio(tp, tp + fp)
      case "npv" => ratio(tn, tn + fn)
      case "bal_acc" =>
        ((formula("tpr", c)._1 + formula("tnr", c)._1) / lit(2.0), (tp + fn) * (tn + fp))
      case "prevalence" => ratio(tp + fn, tot)
      case "equitable_threat_score" => ratio(tp - aref, tp + fp + fn - aref)
    }
  }

  /** The statistics of the NA projection, in its column order, with each
    * one's output column name. */
  private[graft] val NaStats: Seq[(String, String)] =
    Seq("csi", "far", "tpr", "tnr", "ppv", "npv", "bal_acc", "mcc", "equitable_threat_score",
      "prevalence", "bias").map(s => s -> s) :+ ("f1" -> "f1_score")

  /** The masked share of all cells, in percent. */
  private def maskedPerc(c: Counts): Column =
    div(col("masked").cast("double"), c.tot + col("masked").cast("double")) * 100

  /** The reference's printworthy metric family from contingency-count
    * columns (`tools_shared_functions.py:1666-1689`): CSI, TPR, FAR, MCC,
    * ACC, F1, plus bias — exact double arithmetic from BIGINT counts, NULL
    * where a denominator is zero; shared by [[metrics]] (q12),
    * [[fullMetrics]] (q59), [[masterMetrics]] (q56) and
    * [[versionRegression]] (q89). */
  def metricCols(tnC: Column, fnC: Column, fpC: Column, tpC: Column): Seq[Column] =
    MetricOrientation.map { case (name, _) => naStat(name, tnC, fnC, fpC, tpC).as(name) }

  /** The five per-class counts of an agreement raster, one aggregate. */
  private def classCounts(agreementDf: DataFrame): DataFrame =
    agreementDf.agg(
      count(when(col("agreement") === 0, 1)).as("tn"),
      count(when(col("agreement") === 1, 1)).as("fn"),
      count(when(col("agreement") === 2, 1)).as("fp"),
      count(when(col("agreement") === 3, 1)).as("tp"),
      count(when(col("agreement") === 4, 1)).as("masked"))

  private val countCols = Seq(col("tn"), col("fn"), col("fp"), col("tp"), col("masked"))

  /** Contingency counts + metrics for one agreement raster (q12). */
  def metrics(agreementDf: DataFrame): DataFrame =
    classCounts(agreementDf).select(countCols ++
      metricCols(col("tn"), col("fn"), col("fp"), col("tp")): _*)

  /** The COMPLETE master-CSV metric family (q59) — every derived statistic
    * the reference writes per evaluation row
    * (`tools/tools_shared_functions.py:277-380`,
    * `tools/synthesize_test_cases.py:48-88`): the 7 headline metrics plus
    * TNR/PND/PPV/NPV/Bal_ACC/prevalence/equitable-threat-score, the percent
    * family, and the cell-area → km² family. All exact double arithmetic
    * from the BIGINT contingency counts, NULL where a denominator is zero. */
  def fullMetrics(agreementDf: DataFrame): DataFrame = {
    val c = new Counts(col("tn"), col("fn"), col("fp"), col("tp"))
    import c._
    def s(name: String) = guarded(name, c)
    val pnd = div(fn, fn + tp)
    // the remaining gval CatStats keys (reference stat dict,
    // tools_shared_functions.py:277-380) — canonical definitions
    val fpr = div(fp, fp + tn)
    def perc(x: Column) = div(x, tot) * 100
    val a = lit(FullCellAreaM2)
    def km2(x: Column) = x * a / lit(1000000.0)
    classCounts(agreementDf).select(countCols ++ Seq(
      (col("tn") + col("fn") + col("fp") + col("tp")).as("contingency_tot_count")) ++
      metricCols(col("tn"), col("fn"), col("fp"), col("tp")) ++ Seq(
      s("tnr").as("tnr"),
      pnd.as("pnd"),
      s("ppv").as("ppv"),
      s("npv").as("npv"),
      s("bal_acc").as("bal_acc"),
      s("prevalence").as("prevalence"),
      s("equitable_threat_score").as("equitable_threat_score"),
      fpr.as("fpr"),
      div(fn, fn + tn).as("false_omission_rate"),
      sqrt(s("ppv") * s("tpr")).as("fowlkes_mallows_index"),
      div(s("tpr"), fpr).as("positive_likelihood_ratio"),
      div(pnd, s("tnr")).as("negative_likelihood_ratio"),
      div(sqrt(s("tpr") * fpr) - fpr, s("tpr") - fpr).as("prevalence_threshold"),
      perc(tp).as("tp_perc"),
      perc(fp).as("fp_perc"),
      perc(tn).as("tn_perc"),
      perc(fn).as("fn_perc"),
      perc(tp + fp).as("pred_positive_perc"),
      perc(tn + fn).as("pred_negative_perc"),
      perc(tp + fn).as("obs_positive_perc"),
      perc(tn + fp).as("obs_negative_perc"),
      (perc(tp + fp) - perc(tp + fn)).as("positive_diff_perc"),
      maskedPerc(c).as("masked_perc"),
      a.as("cell_area_m2"),
      km2(tp).as("tp_area_km2"),
      km2(fp).as("fp_area_km2"),
      km2(tn).as("tn_area_km2"),
      km2(fn).as("fn_area_km2"),
      km2(tot).as("contingency_tot_area_km2"),
      km2(tp + fp).as("pred_positive_area_km2"),
      km2(tn + fn).as("pred_negative_area_km2"),
      km2(tp + fn).as("obs_positive_area_km2"),
      km2(tn + fp).as("obs_negative_area_km2"),
      (km2(tp + fp) - km2(tp + fn)).as("positive_diff_area_km2")): _*)
  }

  /** Multi-benchmark master-metrics assembly (q56) — the engine's form of
    * `tools/synthesize_test_cases.py:22-293`: evaluate the SAME predicted
    * mosaic against every (benchmark_source × magnitude) combination and melt
    * the per-combo contingency metrics into one long master table (one row
    * per combo, metric columns — the master CSV's shape). Each synthetic
    * benchmark source shifts the extent hash; each magnitude widens the
    * benchmark extent and moves the predicted wet threshold. ONE pass over
    * the mosaic: all combos are conditional aggregates of the same scan. */
  val MasterCombos: Seq[(String, String, Int, Int, Double)] = Seq(
    // (benchmark_source, magnitude, hash shift k, bench width w, pred threshold t)
    ("ble", "100yr", 0, 4, 0.5),
    ("ble", "500yr", 0, 6, 0.0),
    ("nws", "100yr", 7, 4, 0.5),
    ("nws", "500yr", 7, 6, 0.0))

  def comboAgreement(cell: Column, depthMax: Column, k: Int, w: Int, t: Double): Column =
    when(isMasked(cell), lit(4))
      .otherwise((depthMax > t).cast("int") * 2 +
        ((Cells.rowOfCol(cell) * 31 + Cells.colOfCol(cell) * 17 + k) % 10 < w).cast("int"))
      .cast("int")

  /** Per master combo, one count column per agreement code,
    * `c<code>_<src>_<mag><suffix>`, with the combo's threshold raised by
    * `dlt` — the engine twin of the oracle's `comboCountsSql`. */
  private def comboCounts(dlt: Double = 0.0, suffix: String = ""): Seq[Column] =
    MasterCombos.flatMap { case (src, mag, k, w, t) =>
      val agr = comboAgreement(col("cell"), col("depth_max"), k, w, t + dlt)
      (0 to 4).map(c => count(when(agr === c, 1)).as(s"c${c}_${src}_$mag$suffix"))
    }

  /** The five [[comboCounts]] columns of one combo, in code order (tn, fn, fp, tp, masked). */
  private def comboCols(src: String, mag: String, suffix: String = ""): Seq[Column] =
    (0 to 4).map(c => col(s"c${c}_${src}_$mag$suffix"))

  def masterMetrics(mosaic: DataFrame): DataFrame = {
    val countExprs = comboCounts()
    val counted = mosaic.agg(countExprs.head, countExprs.tail: _*)
    val rows = MasterCombos.map { case (src, mag, _, _, _) =>
      val Seq(tn, fn, fp, tp, masked) = comboCols(src, mag)
      struct(Seq(lit(MasterVersion).as("version"), lit(src).as("benchmark_source"),
        lit(mag).as("magnitude"), tn.as("tn"), fn.as("fn"), fp.as("fp"),
        tp.as("tp"), masked.as("masked")) ++
        metricCols(tn, fn, fp, tp): _*)
    }
    counted.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Per-catchment alpha metrics (q95) — the "FIM Performance" layer,
    * `tools/test_case_by_hydro_id.py:29-34` (docstring: "approximately 20 to
    * 32 hours to complete"), `:45-50` (zonal_stats of the agreement raster
    * per catchment polygon), `:57-133` (`compute_stats_from_contingency_
    * table` per HydroID), `:203-283` (drive over benchmark × magnitude).
    *
    * The reference rasterizes every catchment polygon against every
    * agreement raster for every (benchmark, magnitude) combo, serially per
    * HUC. Here the whole workload is ONE plan: the zonal key (owning
    * catchment of each cell centroid) comes from the broadcast PIP join the
    * engine already uses for points, all 4 combos × 5 agreement classes
    * become conditional counts in a single partial-aggregating HashAggregate
    * keyed on hydroid, and the melt + metric algebra is per-row expression
    * work on the counted rows (one row per catchment × combo).
    *
    * Metric semantics follow the reference exactly: a metric whose
    * denominator is zero is NA (`compute_stats_from_contingency_table`
    * returns 'NA' on ZeroDivisionError) → NULL here, and catchment×combo
    * groups with an all-masked/empty contingency total are dropped
    * (`test_case_by_hydro_id.py:86-88`). */
  def alphaByHydroId(spark: SparkSession, mosaic: DataFrame): DataFrame = {
    import graft.geo.Cells
    val withGeo = mosaic
      .withColumn("lat", Cells.centroidLatCol(col("cell"), Cells.BaseRes))
      .withColumn("lng", Cells.centroidLngCol(col("cell"), Cells.BaseRes))
    val assigned = SpatialJoin.assign(spark, withGeo)
    val countExprs = comboCounts()
    val counted = assigned
      .groupBy(col("hydroid").cast("long").as("hydroid"), col("huc8"))
      .agg(countExprs.head, countExprs.tail: _*)
    val rows = MasterCombos.map { case (src, mag, _, _, _) =>
      val Seq(tn, fn, fp, tp, masked) = comboCols(src, mag)
      struct(lit(src).as("bench"), lit(mag).as("mag"), tn.as("tn"),
        fn.as("fn"), fp.as("fp"), tp.as("tp"), masked.as("masked"))
    }
    val melted = counted
      .select(col("hydroid"), col("huc8"), explode(array(rows: _*)).as("r"))
      .select(col("hydroid"), col("huc8"), col("r.*"))
      .filter(col("tn") + col("fn") + col("fp") + col("tp") > 0)
    contingencyMetricSelect(melted,
      Seq(col("hydroid"), col("huc8"), col("bench"), col("mag")))
  }

  /** The shared per-row metric projection over contingency-count columns
    * (tn/fn/fp/tp/masked) — NA (NULL) when a metric's denominator is zero,
    * with identical guard conditions in the oracle. Used by
    * [[alphaByHydroId]] (per-catchment grain) and [[aggregateMetrics]]
    * (summed national grain). */
  private def contingencyMetricSelect(melted: DataFrame, keyCols: Seq[Column]): DataFrame = {
    val c = new Counts(col("tn"), col("fn"), col("fp"), col("tp"))
    melted.select(keyCols ++ countCols ++
      Seq((c.tot * lit(AlphaCellAreaM2) / lit(1000000.0)).as("contingency_tot_area_km2")) ++
      NaStats.map { case (name, column) =>
        naStat(name, col("tn"), col("fn"), col("fp"), col("tp")).as(column) } ++
      Seq(maskedPerc(c).as("masked_perc")): _*)
  }

  /** National metric rollup (q106) — `tools/aggregate_metrics.py:203-307`:
    * the reference sums the per-test-case contingency-count JSONs per
    * magnitude and recomputes the full metric family over the summed
    * counts (NOT an average of per-case metrics — the counts aggregate,
    * the ratios don't). The engine mirrors that shape exactly: the
    * [[alphaByHydroId]] per-catchment counts are summed per (benchmark,
    * magnitude) — a 20 k-row second-stage aggregate, negligible next to
    * the one fact-table pass both share — and the same guarded metric
    * projection runs over the sums. `n_cases` is the reference's
    * "aggregated metrics over N test cases" count. */
  def aggregateMetrics(spark: SparkSession, mosaic: DataFrame): DataFrame = {
    val summed = alphaByHydroId(spark, mosaic)
      .groupBy(col("bench"), col("mag"))
      .agg(sum(col("tn")).as("tn"), sum(col("fn")).as("fn"),
        sum(col("fp")).as("fp"), sum(col("tp")).as("tp"),
        sum(col("masked")).as("masked"), count(lit(1)).as("n_cases"))
    contingencyMetricSelect(summed,
      Seq(col("bench"), col("mag"), col("n_cases")))
  }

  /** The 7 headline metric names in [[metricCols]] order, with each stat's
    * regression orientation: +1 bigger-is-better, −1 smaller-is-better,
    * 0 closer-to-one-is-better (bias). */
  val MetricOrientation: Seq[(String, Int)] = Seq(
    "csi" -> 1, "tpr" -> 1, "far" -> -1, "mcc" -> 1, "acc" -> 1, "f1" -> 1, "bias" -> 0)

  /** Version-regression diff of the master metrics (q89) —
    * `tools/tools_shared_functions.py:119-133` (`check_for_regression`): the
    * release gate a FIM user runs every version — every stat of the new
    * build's master-metrics table minus the previous version's, melted one
    * row per (benchmark, magnitude, stat), with a regression verdict per the
    * stat's orientation. The "previous version" is the same evaluation with
    * every predicted-wet threshold raised [[PrevThresholdDelta]] m (a
    * deterministic stand-in for last release's model).
    *
    * Scale shape: ONE pass over the mosaic — both versions' contingency
    * counts are conditional aggregates of the same scan (2 versions × 4
    * combos × 5 classes = 40 counters in one partial-aggregating
    * HashAggregate); the melt + diff is driver-free expression algebra on
    * the single counted row. */
  def versionRegression(mosaic: DataFrame): DataFrame = {
    val versions = Seq(("new", 0.0), ("prev", PrevThresholdDelta))
    val countExprs = versions.flatMap { case (v, d) => comboCounts(d, s"_$v") }
    val counted = mosaic.agg(countExprs.head, countExprs.tail: _*)
    val rows = MasterCombos.flatMap { case (src, mag, _, _, _) =>
      val Seq(tnN, fnN, fpN, tpN, _) = comboCols(src, mag, "_new")
      val Seq(tnP, fnP, fpP, tpP, _) = comboCols(src, mag, "_prev")
      val newM = metricCols(tnN, fnN, fpN, tpN)
      val prevM = metricCols(tnP, fnP, fpP, tpP)
      MetricOrientation.zipWithIndex.map { case ((stat, orient), i) =>
        val v = newM(i); val p = prevM(i)
        val regressed = orient match {
          case 1  => (v - p < 0).cast("int")
          case -1 => (v - p > 0).cast("int")
          case 0  => (abs(v - lit(1.0)) > abs(p - lit(1.0))).cast("int")
        }
        struct(lit(src).as("benchmark_source"), lit(mag).as("magnitude"),
          lit(stat).as("stat"), v.as("value"), p.as("value_prev"),
          (v - p).as("diff"), regressed.as("regressed"))
      }
    }
    counted.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }
}
