package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.pipeline.Inundate
import graft.synth.Synth
import OracleSql._

/** Evaluation queries: agreement rasters, contingency metrics at every
  * grain, version regression, impact and error analyses of the mosaic. */
object EvaluationQueries {

  /** Shared q95/q106 oracle chain: per-(catchment, benchmark, magnitude)
    * contingency counts from ONE mosaic pass (mirrors
    * [[graft.ops.Agreement.alphaByHydroId]]'s counting stage). */
  private def alphaCountCtes: Seq[String] = {
    val combos = graft.ops.Agreement.MasterCombos.map { case (src, mag, k, w, t) =>
      s"('$src', '$mag', $k, $w, CAST($t AS DOUBLE))"
    }.mkString(", ")
    Seq(pts, asg, ht, fc, stg, til, mos,
      s"""cmb AS (SELECT * FROM (VALUES $combos) v(bench, mag, k, w, t))""",
      """mcn AS (
        |  SELECT cell, depth_max,
        |    ((cell // 268435456) % 268435456) AS crow, (cell % 268435456) AS ccol,
        |    (((cell // 268435456) % 268435456) + CAST(0.5 AS DOUBLE)) / 4096.0 * 180.0 - 90.0 AS clat,
        |    ((cell % 268435456) + CAST(0.5 AS DOUBLE)) / 8192.0 * 360.0 - 180.0 AS clng
        |  FROM mos
        |)""".stripMargin,
      s"""agh AS (
         |  SELECT CAST(floor((clat + 90.0) / 1.25) AS BIGINT) * 144
         |           + CAST(floor((clng + 180.0) / 2.5) AS BIGINT) AS hydroid,
         |    bench, mag,
         |    CASE WHEN (crow * 29 + ccol * 13) % 50 = 0 THEN 4
         |         ELSE (CASE WHEN depth_max > t THEN 1 ELSE 0 END) * 2
         |              + CASE WHEN (crow * 31 + ccol * 17 + k) % 10 < w THEN 1 ELSE 0 END
         |    END AS agreement
         |  FROM mcn CROSS JOIN cmb
         |)""".stripMargin,
      s"""c95 AS (
         |  SELECT hydroid, $huc8FromHydroid AS huc8, bench, mag,
         |    count(CASE WHEN agreement = 0 THEN 1 END) AS tn,
         |    count(CASE WHEN agreement = 1 THEN 1 END) AS fn,
         |    count(CASE WHEN agreement = 2 THEN 1 END) AS fp,
         |    count(CASE WHEN agreement = 3 THEN 1 END) AS tp,
         |    count(CASE WHEN agreement = 4 THEN 1 END) AS masked
         |  FROM agh GROUP BY hydroid, bench, mag
         |)""".stripMargin)
  }

  private def d(c: String) = s"CAST($c AS DOUBLE)"

  /** One contingency metric's formula over the count columns `tn`/`fn`/`fp`/`tp`
    * — the text [[graft.ops.Agreement]]'s metric columns mirror, written once
    * for every oracle that reports it. `brk` is the whitespace before mcc's
    * `/ sqrt(...)` denominator, which the callers wrap differently. */
  private def metricSql(stat: String, tn: String, fn: String, fp: String, tp: String,
      brk: String = " "): String = {
    val tot = s"CAST($tn + $fn + $fp + $tp AS DOUBLE)"
    val aref = s"(${d(tp)} + ${d(fp)}) * (${d(tp)} + ${d(fn)}) / $tot"
    stat match {
      case "csi" => s"${d(tp)} / (${d(tp)} + ${d(fp)} + ${d(fn)})"
      case "tpr" => s"${d(tp)} / (${d(tp)} + ${d(fn)})"
      case "far" => s"${d(fp)} / (${d(tp)} + ${d(fp)})"
      case "mcc" => s"(${d(tp)} * ${d(tn)} - ${d(fp)} * ${d(fn)})$brk/ sqrt((${d(tp)} + ${d(fp)}) * (${d(tp)} + ${d(fn)}) * (${d(tn)} + ${d(fp)}) * (${d(tn)} + ${d(fn)}))"
      case "acc" => s"(${d(tp)} + ${d(tn)}) / (${d(tp)} + ${d(tn)} + ${d(fp)} + ${d(fn)})"
      case "f1" => s"${d(tp)} * 2 / (${d(tp)} * 2 + ${d(fp)} + ${d(fn)})"
      case "bias" => s"(${d(tp)} + ${d(fp)}) / (${d(tp)} + ${d(fn)})"
      case "tnr" => s"${d(tn)} / (${d(tn)} + ${d(fp)})"
      case "ppv" => s"${d(tp)} / (${d(tp)} + ${d(fp)})"
      case "npv" => s"${d(tn)} / (${d(tn)} + ${d(fn)})"
      case "bal_acc" =>
        s"(${metricSql("tpr", tn, fn, fp, tp)} + ${metricSql("tnr", tn, fn, fp, tp)}) / CAST(2.0 AS DOUBLE)"
      case "prevalence" => s"(${d(tp)} + ${d(fn)}) / $tot"
      case "equitable_threat_score" => s"(${d(tp)} - $aref) / (${d(tp)} + ${d(fp)} + ${d(fn)} - $aref)"
    }
  }

  /** The seven master metrics ([[graft.ops.Agreement.MetricOrientation]]'s
    * stats) as projection items, one per line. */
  private def masterMetricsSql(tn: String, fn: String, fp: String, tp: String): String =
    Agreement.MetricOrientation.map { case (stat, _) =>
      s"${metricSql(stat, tn, fn, fp, tp, "\n    ")} AS $stat"
    }.mkString(",\n  ")

  /** A mosaic cell's agreement code for one master combo — mirrors
    * [[graft.ops.Agreement.comboAgreement]]: masked (4), else the prediction
    * at threshold `t` against the row/column-hashed benchmark extent. */
  private def agreementSql(k: Int, w: Int, t: String): String = {
    val row = "((cell // 268435456) % 268435456)"
    val colc = "(cell % 268435456)"
    s"""CASE WHEN ($row * 29 + $colc * 13) % 50 = 0 THEN 4
       |     ELSE (CASE WHEN depth_max > $t THEN 1 ELSE 0 END) * 2
       |          + CASE WHEN ($row * 31 + $colc * 17 + $k) % 10 < $w THEN 1 ELSE 0 END
       |END""".stripMargin
  }

  /** Per master combo, one count column per agreement code,
    * `c<code>_<src>_<mag><suffix>`, with the combo's threshold raised by `dlt`. */
  private def comboCountsSql(dlt: Double, suffix: String): Seq[String] =
    Agreement.MasterCombos.flatMap { case (src, mag, k, w, t) =>
      (0 to 4).map(c =>
        s"count(CASE WHEN ${agreementSql(k, w, s"CAST(${t + dlt} AS DOUBLE)")} = $c THEN 1 END) AS c${c}_${src}_$mag$suffix")
    }

  /** The guarded metric projection over contingency-count columns — mirrors
    * [[graft.ops.Agreement]]'s `contingencyMetricSelect` (NA ⇔ NULL on a
    * zero denominator; identical formula text). Shared by q95 (per-catchment
    * grain) and q106 (summed national grain). */
  private def contingencyMetricSql(keys: String, from: String): String = {
    def m(stat: String) = metricSql(stat, "tn", "fn", "fp", "tp", "\n            ")
    val tot = "CAST(tn + fn + fp + tp AS DOUBLE)"
    val aref = s"(${d("tp")} + ${d("fp")}) * (${d("tp")} + ${d("fn")}) / $tot"
    s"""SELECT $keys, tn, fn, fp, tp, masked,
       |  $tot * CAST(100.0 AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS contingency_tot_area_km2,
       |  CASE WHEN ${d("tp")} + ${d("fp")} + ${d("fn")} <> 0 THEN ${m("csi")} END AS csi,
       |  CASE WHEN ${d("tp")} + ${d("fp")} <> 0 THEN ${m("far")} END AS far,
       |  CASE WHEN ${d("tp")} + ${d("fn")} <> 0 THEN ${m("tpr")} END AS tpr,
       |  CASE WHEN ${d("tn")} + ${d("fp")} <> 0 THEN ${m("tnr")} END AS tnr,
       |  CASE WHEN ${d("tp")} + ${d("fp")} <> 0 THEN ${m("ppv")} END AS ppv,
       |  CASE WHEN ${d("tn")} + ${d("fn")} <> 0 THEN ${m("npv")} END AS npv,
       |  CASE WHEN (${d("tp")} + ${d("fn")}) * (${d("tn")} + ${d("fp")}) <> 0
       |       THEN ${m("bal_acc")} END AS bal_acc,
       |  CASE WHEN (${d("tp")} + ${d("fp")}) * (${d("tp")} + ${d("fn")}) * (${d("tn")} + ${d("fp")}) * (${d("tn")} + ${d("fn")}) <> 0
       |       THEN ${m("mcc")} END AS mcc,
       |  CASE WHEN ${d("tp")} + ${d("fp")} + ${d("fn")} - $aref <> 0
       |       THEN ${m("equitable_threat_score")} END AS equitable_threat_score,
       |  ${m("prevalence")} AS prevalence,
       |  CASE WHEN ${d("tp")} + ${d("fn")} <> 0 THEN ${m("bias")} END AS bias,
       |  CASE WHEN ${d("tp")} * 2 + ${d("fp")} + ${d("fn")} <> 0 THEN ${m("f1")} END AS f1_score,
       |  ${d("masked")} / ($tot + ${d("masked")}) * 100 AS masked_perc
       |FROM $from""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    // §3.3 agreement raster: predicted vs benchmark per cell
    Query("q11_agreement", (s, dir) =>
      Agreement.agreement(s, Inundate.run(s, dir)).select(col("cell"), col("agreement")),
      withCtes(pts, asg, ht, fc, stg, til, mos, mrects, agr)(
        "SELECT cell, agreement FROM agr")),

    // A7+A8 contingency counts + CSI/TPR/FAR/MCC/ACC/F1/bias
    Query("q12_metrics", (s, dir) =>
      Agreement.metrics(Agreement.agreement(s, Inundate.run(s, dir))),
      withCtes(pts, asg, ht, fc, stg, til, mos, mrects, agr,
        """c AS (
          |  SELECT count(CASE WHEN agreement = 0 THEN 1 END) AS tn,
          |         count(CASE WHEN agreement = 1 THEN 1 END) AS fn,
          |         count(CASE WHEN agreement = 2 THEN 1 END) AS fp,
          |         count(CASE WHEN agreement = 3 THEN 1 END) AS tp,
          |         count(CASE WHEN agreement = 4 THEN 1 END) AS masked
          |  FROM agr
          |)""".stripMargin)(
        """SELECT tn, fn, fp, tp, masked,
          |  CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) AS csi,
          |  CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) AS tpr,
          |  CAST(fp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) AS far,
          |  (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
          |    / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
          |           * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))) AS mcc,
          |  (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE))
          |    / (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) AS acc,
          |  CAST(tp AS DOUBLE) * 2 / (CAST(tp AS DOUBLE) * 2 + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) AS f1,
          |  (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) AS bias
          |FROM c""".stripMargin)),

    // multi-benchmark master-metrics assembly: one mosaic evaluated against
    // every (benchmark_source × magnitude), melted to the long master table
    // (synthesize_test_cases.py:22-293)
    Query("q56_master_metrics", (s, dir) =>
      Agreement.masterMetrics(Inundate.run(s, dir)),
      {
        val unions = Agreement.MasterCombos.map { case (src, mag, _, _, _) =>
          def c(i: Int) = s"c${i}_${src}_$mag"
          s"""SELECT 'graft_r2' AS version, '$src' AS benchmark_source, '$mag' AS magnitude,
             |  ${c(0)} AS tn, ${c(1)} AS fn, ${c(2)} AS fp, ${c(3)} AS tp, ${c(4)} AS masked,
             |  ${masterMetricsSql(c(0), c(1), c(2), c(3))}
             |FROM c56""".stripMargin
        }.mkString("\nUNION ALL\n")
        withCtes(pts, asg, ht, fc, stg, til, mos,
          s"c56 AS (\n  SELECT ${comboCountsSql(0.0, "").mkString(",\n    ")}\n  FROM mos\n)")(unions)
      }),

    // the COMPLETE master-CSV metric family (~36 columns) from one agreement
    // raster (tools_shared_functions.py:277-380)
    Query("q59_full_metrics", (s, dir) =>
      Agreement.fullMetrics(Agreement.agreement(s, Inundate.run(s, dir))),
      {
        def m(stat: String) = metricSql(stat, "tn", "fn", "fp", "tp")
        val tot = "CAST(tn + fn + fp + tp AS DOUBLE)"
        val area = "CAST(2.5E7 AS DOUBLE)"
        val km = "CAST(1000000.0 AS DOUBLE)"
        withCtes(pts, asg, ht, fc, stg, til, mos, mrects, agr,
          """c AS (
            |  SELECT count(CASE WHEN agreement = 0 THEN 1 END) AS tn,
            |         count(CASE WHEN agreement = 1 THEN 1 END) AS fn,
            |         count(CASE WHEN agreement = 2 THEN 1 END) AS fp,
            |         count(CASE WHEN agreement = 3 THEN 1 END) AS tp,
            |         count(CASE WHEN agreement = 4 THEN 1 END) AS masked
            |  FROM agr
            |)""".stripMargin)(
          s"""SELECT tn, fn, fp, tp, masked,
             |  tn + fn + fp + tp AS contingency_tot_count,
             |  ${masterMetricsSql("tn", "fn", "fp", "tp")},
             |  ${m("tnr")} AS tnr,
             |  ${d("fn")} / (${d("fn")} + ${d("tp")}) AS pnd,
             |  ${m("ppv")} AS ppv,
             |  ${m("npv")} AS npv,
             |  ${m("bal_acc")} AS bal_acc,
             |  ${m("prevalence")} AS prevalence,
             |  ${m("equitable_threat_score")} AS equitable_threat_score,
             |  ${d("fp")} / (${d("fp")} + ${d("tn")}) AS fpr,
             |  ${d("fn")} / (${d("fn")} + ${d("tn")}) AS false_omission_rate,
             |  sqrt((${d("tp")} / (${d("tp")} + ${d("fp")})) * (${d("tp")} / (${d("tp")} + ${d("fn")}))) AS fowlkes_mallows_index,
             |  (${d("tp")} / (${d("tp")} + ${d("fn")})) / (${d("fp")} / (${d("fp")} + ${d("tn")})) AS positive_likelihood_ratio,
             |  (${d("fn")} / (${d("fn")} + ${d("tp")})) / (${d("tn")} / (${d("tn")} + ${d("fp")})) AS negative_likelihood_ratio,
             |  (sqrt((${d("tp")} / (${d("tp")} + ${d("fn")})) * (${d("fp")} / (${d("fp")} + ${d("tn")}))) - ${d("fp")} / (${d("fp")} + ${d("tn")}))
             |    / (${d("tp")} / (${d("tp")} + ${d("fn")}) - ${d("fp")} / (${d("fp")} + ${d("tn")})) AS prevalence_threshold,
             |  ${d("tp")} / $tot * 100 AS tp_perc,
             |  ${d("fp")} / $tot * 100 AS fp_perc,
             |  ${d("tn")} / $tot * 100 AS tn_perc,
             |  ${d("fn")} / $tot * 100 AS fn_perc,
             |  (${d("tp")} + ${d("fp")}) / $tot * 100 AS pred_positive_perc,
             |  (${d("tn")} + ${d("fn")}) / $tot * 100 AS pred_negative_perc,
             |  (${d("tp")} + ${d("fn")}) / $tot * 100 AS obs_positive_perc,
             |  (${d("tn")} + ${d("fp")}) / $tot * 100 AS obs_negative_perc,
             |  (${d("tp")} + ${d("fp")}) / $tot * 100 - (${d("tp")} + ${d("fn")}) / $tot * 100 AS positive_diff_perc,
             |  ${d("masked")} / ($tot + ${d("masked")}) * 100 AS masked_perc,
             |  $area AS cell_area_m2,
             |  ${d("tp")} * $area / $km AS tp_area_km2,
             |  ${d("fp")} * $area / $km AS fp_area_km2,
             |  ${d("tn")} * $area / $km AS tn_area_km2,
             |  ${d("fn")} * $area / $km AS fn_area_km2,
             |  $tot * $area / $km AS contingency_tot_area_km2,
             |  (${d("tp")} + ${d("fp")}) * $area / $km AS pred_positive_area_km2,
             |  (${d("tn")} + ${d("fn")}) * $area / $km AS pred_negative_area_km2,
             |  (${d("tp")} + ${d("fn")}) * $area / $km AS obs_positive_area_km2,
             |  (${d("tn")} + ${d("fp")}) * $area / $km AS obs_negative_area_km2,
             |  (${d("tp")} + ${d("fp")}) * $area / $km - (${d("tp")} + ${d("fn")}) * $area / $km AS positive_diff_area_km2
             |FROM c""".stripMargin)
      }),

    // version-regression diff: new vs previous master metrics, melted per
    // stat with an orientation-aware regression verdict (the release gate)
    Query("q89_version_regression", (s, dir) =>
      Agreement.versionRegression(Inundate.run(s, dir)),
      {
        val versions = Seq(("new", 0.0), ("prev", 0.25))
        val counts = versions.flatMap { case (v, dlt) => comboCountsSql(dlt, s"_$v") }.mkString(",\n    ")
        val unions = Agreement.MasterCombos.flatMap { case (src, mag, _, _, _) =>
          def c(i: Int, v: String) = s"c${i}_${src}_${mag}_$v"
          Agreement.MetricOrientation.map { case (stat, orient) =>
            val vN = metricSql(stat, c(0, "new"), c(1, "new"), c(2, "new"), c(3, "new"))
            val vP = metricSql(stat, c(0, "prev"), c(1, "prev"), c(2, "prev"), c(3, "prev"))
            val verdict = orient match {
              case 1  => s"CASE WHEN ($vN) - ($vP) < 0 THEN 1 ELSE 0 END"
              case -1 => s"CASE WHEN ($vN) - ($vP) > 0 THEN 1 ELSE 0 END"
              case 0  => s"CASE WHEN abs(($vN) - CAST(1.0 AS DOUBLE)) > abs(($vP) - CAST(1.0 AS DOUBLE)) THEN 1 ELSE 0 END"
            }
            s"""SELECT '$src' AS benchmark_source, '$mag' AS magnitude, '$stat' AS stat,
               |  $vN AS value, $vP AS value_prev, ($vN) - ($vP) AS diff,
               |  $verdict AS regressed
               |FROM c89""".stripMargin
          }
        }.mkString("\nUNION ALL\n")
        withCtes(pts, asg, ht, fc, stg, til, mos,
          s"c89 AS (\n  SELECT $counts\n  FROM mos\n)")(unions)
      }),

    // per-catchment alpha metrics ("FIM Performance" layer): the full
    // contingency-metric family PER HydroID per (benchmark, magnitude) —
    // the reference's 20-32 h test_case_by_hydro_id workload as one plan
    Query("q95_alpha_by_hydroid", (s, dir) =>
      Agreement.alphaByHydroId(s, Inundate.run(s, dir)),
      withCtes(alphaCountCtes: _*)(
        contingencyMetricSql("hydroid, huc8, bench, mag",
          "c95 WHERE tn + fn + fp + tp > 0"))),

    // crosswalk evaluation: per-HUC intersection-count agreement + upstream
    // connectivity accuracy of the (error-injected) crosswalk
    Query("q96_crosswalk_eval", (s, _) => NetworkEval.crosswalkEval(s),
      withCtes(net,
        """xwk AS (
          |  SELECT hydroid, huc8, to_node,
          |    CASE WHEN hydroid % 11 = 3 AND to_node >= 0 THEN to_node
          |         ELSE hydroid END + 1000000 AS xw_fid
          |  FROM net
          |)""".stripMargin,
        "upa AS (SELECT to_node AS hydroid, hydroid AS up_id FROM net WHERE to_node >= 0)",
        """ixn AS (
          |  SELECT huc8, hydroid, xw_fid, hydroid + 1000000 AS cand_fid, 2 AS ipts FROM xwk
          |  UNION ALL
          |  SELECT huc8, hydroid, xw_fid, to_node + 1000000 AS cand_fid, 1 AS ipts
          |  FROM xwk WHERE to_node >= 0
          |  UNION ALL
          |  SELECT x.huc8, x.hydroid, x.xw_fid, u.up_id + 1000000 AS cand_fid, 1 AS ipts
          |  FROM xwk x JOIN upa u ON u.hydroid = x.hydroid
          |)""".stripMargin,
        """mm1 AS (
          |  SELECT huc8,
          |    count(CASE WHEN (cand_fid = xw_fid) = (ipts = 2) THEN 1 END) AS correct,
          |    count(*) AS total
          |  FROM ixn GROUP BY huc8
          |)""".stripMargin,
        """ufl AS (
          |  SELECT x.hydroid, list_sort(list(DISTINCT x2.xw_fid)) AS upstream_fids
          |  FROM xwk x JOIN upa u ON u.hydroid = x.hydroid
          |             JOIN xwk x2 ON x2.hydroid = u.up_id
          |  GROUP BY x.hydroid
          |)""".stripMargin,
        """nfl AS (
          |  SELECT hydroid + 1000000 AS fid,
          |    list_sort(list(DISTINCT up_id + 1000000)) AS nwm_fids
          |  FROM upa GROUP BY hydroid
          |)""".stripMargin,
        """stt AS (
          |  SELECT x.huc8,
          |    CASE WHEN uf.upstream_fids IS NULL THEN 3
          |         WHEN list_contains(uf.upstream_fids, x.xw_fid) THEN -1
          |         WHEN uf.upstream_fids = COALESCE(nf.nwm_fids, CAST([] AS BIGINT[])) THEN 0
          |         ELSE 1 END AS status
          |  FROM xwk x LEFT JOIN ufl uf ON uf.hydroid = x.hydroid
          |             LEFT JOIN nfl nf ON nf.fid = x.xw_fid
          |)""".stripMargin,
        """mm2 AS (
          |  SELECT huc8, count(CASE WHEN status = 0 THEN 1 END) AS correct,
          |    count(*) AS total
          |  FROM stt WHERE status >= 0 GROUP BY huc8
          |)""".stripMargin)(
        """SELECT huc8, 'intersections' AS method, correct, total,
          |  CAST(correct AS DOUBLE) / CAST(total AS DOUBLE) AS proportion FROM mm1
          |UNION ALL
          |SELECT huc8, 'network' AS method, correct, total,
          |  CAST(correct AS DOUBLE) / CAST(total AS DOUBLE) AS proportion FROM mm2""".stripMargin)),

    // flow-continuity mass balance: per-confluence upstream discharge sum vs
    // forecast discharge, SAPE error term, sparse-forecast fillna(0) path
    Query("q98_continuity", (s, _) => NetworkEval.continuity(s),
      withCtes(
        """net98 AS (
          |  SELECT hydroid,
          |    lpad(CAST(CAST(floor(floor(hydroid / 144) / 8) * 18 + floor((hydroid % 144) / 8) AS BIGINT) AS VARCHAR), 8, '0') AS huc8,
          |    CAST(CASE WHEN (CAST(floor(hydroid / 144) AS BIGINT) % 8) = 0 THEN -1
          |         ELSE (CAST(floor(hydroid / 144) AS BIGINT) - 1) * 144 + (hydroid % 144)
          |              - (hydroid % 8) + CAST(floor((hydroid % 8) / 2) AS BIGINT)
          |    END AS BIGINT) AS to_node
          |  FROM (SELECT a.x * 144 + b.x AS hydroid
          |        FROM generate_series(0, 143) a(x), generate_series(0, 143) b(x))
          |)""".stripMargin,
        """flw AS (
          |  SELECT hydroid, huc8, to_node,
          |    CASE WHEN (hydroid + 1000000) % 5 <> 2
          |         THEN ((hydroid + 1000000) * 53 + 7) % 9000 ELSE 0 END AS qt
          |  FROM net98
          |)""".stripMargin,
        """upq AS (
          |  SELECT to_node AS hydroid, sum(qt) AS exp_tenths, count(*) AS n_up
          |  FROM flw WHERE to_node >= 0 GROUP BY to_node
          |)""".stripMargin)(
        """SELECT f.hydroid, f.huc8, u.n_up,
          |  f.qt / 10.0 AS discharge,
          |  u.exp_tenths / 10.0 AS expected_discharge,
          |  f.qt / 10.0 - u.exp_tenths / 10.0 AS diff,
          |  CASE WHEN abs(f.qt / 10.0) + abs(u.exp_tenths / 10.0) <> 0
          |       THEN CAST(100.0 AS DOUBLE) * abs(f.qt / 10.0 - u.exp_tenths / 10.0)
          |            / (abs(f.qt / 10.0) + abs(u.exp_tenths / 10.0)) END AS sape,
          |  CASE WHEN f.qt / 10.0 = 0.0 THEN 1 ELSE 0 END AS no_flow
          |FROM flw f JOIN upq u ON f.hydroid = u.hydroid
          |WHERE u.n_up > 1""".stripMargin)),

    // national metric rollup: per-catchment contingency counts summed per
    // (benchmark, magnitude), metric family recomputed over the SUMS (the
    // reference aggregates count JSONs, never averages ratios)
    Query("q106_aggregate_metrics", (s, dir) =>
      Agreement.aggregateMetrics(s, Inundate.run(s, dir)),
      withCtes((alphaCountCtes :+
        """c106 AS (
          |  SELECT bench, mag, CAST(sum(tn) AS BIGINT) AS tn,
          |    CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(fp) AS BIGINT) AS fp,
          |    CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(masked) AS BIGINT) AS masked,
          |    count(*) AS n_cases
          |  FROM c95 WHERE tn + fn + fp + tp > 0 GROUP BY bench, mag
          |)""".stripMargin): _*)(
        contingencyMetricSql("bench, mag, n_cases", "c106"))),

    // flood-impact CSI over structures + roads vs two extents (incl. the
    // reference's LEFT-merge TP quirk)
    Query("q109_flood_impact", (s, dir) =>
      Impact.floodImpact(s, Inundate.run(s, dir)),
      withCtes(pts, asg, ht, fc, stg, til, mos, net,
        "wetb AS (SELECT cell FROM mos WHERE depth_max > CAST(0.5 AS DOUBLE))",
        "wett AS (SELECT cell FROM mos WHERE depth_max > CAST(0.25 AS DOUBLE) AND cell % 7 <> 3)",
        """stc AS (
          |  SELECT objectid, 'structure' AS ftype,
          |    12 * 72057594037927936
          |      + CAST(floor((lat + 90.0) / 180.0 * 4096.0) AS BIGINT) * 268435456
          |      + CAST(floor((lng + 180.0) / 360.0 * 8192.0) AS BIGINT) AS cell
          |  FROM (SELECT objectid,
          |          CASE WHEN pid % 5 = 0 THEN 40.0 + ((pid * 131 + 17) % 2000) / 1000.0
          |               ELSE ((pid * 48271 + 11) % 160000) / 1000.0 - 80.0 END AS lat,
          |          CASE WHEN pid % 5 = 0 THEN -74.0 + ((pid * 137 + 29) % 2000) / 1000.0
          |               ELSE ((pid * 69621 + 7) % 360000) / 1000.0 - 180.0 END AS lng
          |        FROM (SELECT x AS objectid, x * 13 + 7 AS pid
          |              FROM generate_series(0, 4999) t(x)))
          |)""".stripMargin,
        """rd0 AS (
          |  SELECT hydroid,
          |    (CAST(floor(hydroid / 144) AS BIGINT) + CAST(0.5 AS DOUBLE)) * CAST(1.25 AS DOUBLE)
          |      - CAST(90.0 AS DOUBLE) AS from_lat,
          |    ((hydroid % 144) + CAST(0.5 AS DOUBLE)) * CAST(2.5 AS DOUBLE)
          |      - CAST(180.0 AS DOUBLE) AS from_lng,
          |    CASE WHEN to_node < 0
          |      THEN (CAST(floor(hydroid / 144) AS BIGINT) + CAST(0.5 AS DOUBLE)) * CAST(1.25 AS DOUBLE)
          |           - CAST(90.0 AS DOUBLE) - CAST(1.25 AS DOUBLE)
          |      ELSE (CAST(floor(to_node / 144) AS BIGINT) + CAST(0.5 AS DOUBLE)) * CAST(1.25 AS DOUBLE)
          |           - CAST(90.0 AS DOUBLE) END AS to_lat,
          |    CASE WHEN to_node < 0
          |      THEN ((hydroid % 144) + CAST(0.5 AS DOUBLE)) * CAST(2.5 AS DOUBLE) - CAST(180.0 AS DOUBLE)
          |      ELSE ((to_node % 144) + CAST(0.5 AS DOUBLE)) * CAST(2.5 AS DOUBLE) - CAST(180.0 AS DOUBLE)
          |    END AS to_lng
          |  FROM net
          |)""".stripMargin,
        """rds AS (
          |  SELECT hydroid AS objectid, 'road' AS ftype,
          |    12 * 72057594037927936
          |      + CAST(floor((lat + 90.0) / 180.0 * 4096.0) AS BIGINT) * 268435456
          |      + CAST(floor((lng + 180.0) / 360.0 * 8192.0) AS BIGINT) AS cell
          |  FROM (SELECT hydroid,
          |          from_lat + (j.j / CAST(4.0 AS DOUBLE)) * (to_lat - from_lat) AS lat,
          |          from_lng + (j.j / CAST(4.0 AS DOUBLE)) * (to_lng - from_lng) AS lng
          |        FROM rd0 CROSS JOIN generate_series(0, 4) j(j))
          |)""".stripMargin,
        "fts AS (SELECT * FROM stc UNION ALL SELECT * FROM rds)",
        """ib9 AS (SELECT DISTINCT f.objectid, f.ftype
          |  FROM fts f JOIN wetb w ON f.cell = w.cell)""".stripMargin,
        """it9 AS (SELECT DISTINCT f.objectid, f.ftype
          |  FROM fts f JOIN wett w ON f.cell = w.cell)""".stripMargin,
        """fo9 AS (
          |  SELECT b.objectid IS NOT NULL AS in_b, t.objectid IS NOT NULL AS in_t,
          |    coalesce(b.ftype, t.ftype) AS ftype
          |  FROM ib9 b FULL JOIN it9 t
          |    ON b.objectid = t.objectid AND b.ftype = t.ftype
          |)""".stripMargin,
        """cn9 AS (
          |  SELECT count(CASE WHEN in_b AND ftype = 'structure' THEN 1 END) AS n_struct_bench,
          |    count(CASE WHEN in_b AND ftype = 'road' THEN 1 END) AS n_road_bench,
          |    count(CASE WHEN in_t AND ftype = 'structure' THEN 1 END) AS n_struct_test,
          |    count(CASE WHEN in_t AND ftype = 'road' THEN 1 END) AS n_road_test,
          |    count(CASE WHEN in_b THEN 1 END) AS tp,
          |    count(CASE WHEN in_b AND NOT in_t THEN 1 END) AS fn,
          |    count(CASE WHEN in_t AND NOT in_b THEN 1 END) AS fp
          |  FROM fo9
          |)""".stripMargin)(
        """SELECT n_struct_bench, n_road_bench, n_struct_test, n_road_test, tp, fn, fp,
          |  CASE WHEN tp + fn + fp <> 0
          |       THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(fp AS DOUBLE))
          |  END AS csi
          |FROM cn9""".stripMargin)),

    // deep-flooding check: masked depth threshold per analysis polygon
    Query("q110_deep_flooding", (s, dir) =>
      Impact.deepFlooding(s, Inundate.run(s, dir)),
      withCtes(pts, asg, ht, fc, stg, til, mos, mrects,
        """mc10 AS (
          |  SELECT cell, depth_max,
          |    (((cell // 268435456) % 268435456) + CAST(0.5 AS DOUBLE)) / 4096.0 * 180.0 - 90.0 AS clat,
          |    ((cell % 268435456) + CAST(0.5 AS DOUBLE)) / 8192.0 * 360.0 - 180.0 AS clng
          |  FROM mos
          |)""".stripMargin,
        """df10 AS (
          |  SELECT m.mask_id, c.depth_max
          |  FROM mc10 c JOIN mrects m
          |    ON c.clat >= m.lat_min AND c.clat < m.lat_max
          |   AND c.clng >= m.lng_min AND c.clng < m.lng_max
          |)""".stripMargin,
        """ag10 AS (
          |  SELECT mask_id, count(*) AS n_cells,
          |    count(CASE WHEN depth_max > CAST(2.0 AS DOUBLE) THEN 1 END) AS n_deep,
          |    max(CASE WHEN depth_max > CAST(2.0 AS DOUBLE) THEN depth_max END) AS max_deep
          |  FROM df10 GROUP BY mask_id
          |)""".stripMargin)(
        """SELECT mask_id, n_cells, n_deep, max_deep,
          |  CAST(n_deep AS DOUBLE) / CAST(n_cells AS DOUBLE) * CAST(100.0 AS DOUBLE) AS pct_deep
          |FROM ag10""".stripMargin)),

    // catchment-boundary inundation errors: wet cells whose dry 4-neighbor
    // lies in a DIFFERENT catchment (HAND truncation artifacts)
    Query("q112_boundary_errors", (s, dir) =>
      Impact.catchmentBoundaryErrors(s, Inundate.run(s, dir)),
      withCtes(pts, asg, ht, fc, stg, til, mos,
        "wetc AS (SELECT cell FROM mos WHERE depth_max > CAST(0.0 AS DOUBLE))",
        """nb12 AS (
          |  SELECT cell, 12 * 72057594037927936
          |    + (((cell // 268435456) % 268435456) + dr) * 268435456
          |    + ((cell % 268435456) + dc) AS ncell
          |  FROM wetc CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dr, dc)
          |)""".stripMargin,
        """dr12 AS (
          |  SELECT n.cell, n.ncell FROM nb12 n
          |  LEFT JOIN wetc w ON n.ncell = w.cell WHERE w.cell IS NULL
          |)""".stripMargin,
        """hy12 AS (
          |  SELECT cell, ncell,
          |    (((cell // 268435456) % 268435456) + CAST(0.5 AS DOUBLE)) / 4096.0 * 180.0 - 90.0 AS clat,
          |    ((cell % 268435456) + CAST(0.5 AS DOUBLE)) / 8192.0 * 360.0 - 180.0 AS clng,
          |    (((ncell // 268435456) % 268435456) + CAST(0.5 AS DOUBLE)) / 4096.0 * 180.0 - 90.0 AS nlat,
          |    ((ncell % 268435456) + CAST(0.5 AS DOUBLE)) / 8192.0 * 360.0 - 180.0 AS nlng
          |  FROM dr12
          |)""".stripMargin,
        """er12 AS (
          |  SELECT CAST(floor((clat + 90.0) / 1.25) AS BIGINT) * 144
          |           + CAST(floor((clng + 180.0) / 2.5) AS BIGINT) AS hydroid,
          |    cell
          |  FROM hy12
          |  WHERE nlat >= CAST(-90.0 AS DOUBLE) AND nlat < CAST(90.0 AS DOUBLE)
          |    AND nlng >= CAST(-180.0 AS DOUBLE) AND nlng < CAST(180.0 AS DOUBLE)
          |    AND (CAST(floor((clat + 90.0) / 1.25) AS BIGINT) * 144
          |           + CAST(floor((clng + 180.0) / 2.5) AS BIGINT))
          |        <> (CAST(floor((nlat + 90.0) / 1.25) AS BIGINT) * 144
          |           + CAST(floor((nlng + 180.0) / 2.5) AS BIGINT))
          |)""".stripMargin)(
        """SELECT hydroid, count(DISTINCT cell) AS n_error_cells
          |FROM er12 GROUP BY hydroid HAVING count(DISTINCT cell) >= 3""".stripMargin)),

    // missing-FIM analysis: zero-REM seed cells + thalweg-notch HydroIDs
    // per stream order
    Query("q113_missing_fim", (s, dir) =>
      Impact.missingFim(s, SpatialJoin.assign(s, Synth.points(s, dir))),
      withCtes(pts, asg,
        """zm AS (
          |  SELECT hydroid, min(hand) AS zmin FROM asg WHERE pid % 23 = 1
          |  GROUP BY hydroid
          |)""".stripMargin,
        """rm13 AS (
          |  SELECT a.pid, a.hydroid,
          |    CASE WHEN z.zmin IS NULL THEN CAST(-9999.0 AS DOUBLE)
          |         ELSE a.hand - z.zmin END AS rem
          |  FROM asg a LEFT JOIN zm z ON a.hydroid = z.hydroid
          |)""".stripMargin,
        """ph13 AS (
          |  SELECT CAST(hydroid % 8 + 1 AS INT) AS order_, hydroid,
          |    count(*) AS n_cells,
          |    count(CASE WHEN rem = CAST(0.0 AS DOUBLE) THEN 1 END) AS n_rem0
          |  FROM rm13 GROUP BY 1, 2
          |)""".stripMargin,
        "tt13 AS (SELECT count(*) AS n_total FROM rm13)")(
        """SELECT order_, count(*) AS n_hydroids,
          |  CAST(sum(n_cells) AS BIGINT) AS n_cells,
          |  CAST(sum(n_rem0) AS BIGINT) AS n_rem0_cells,
          |  count(CASE WHEN n_rem0 = 0 THEN 1 END) AS n_notch_hydroids,
          |  CAST(CAST(sum(n_rem0) AS BIGINT) AS DOUBLE) / CAST(n_total AS DOUBLE)
          |    * CAST(100.0 AS DOUBLE) AS pct_rem0
          |FROM ph13 CROSS JOIN tt13
          |GROUP BY order_, n_total""".stripMargin)),

    // gval arbitrary pairing dictionary: 3-class depth candidate mapped to
    // agreement codes by a broadcast pairing TABLE, not a hard-coded ladder
    // (tools_shared_functions.py:442-455's configurable pairing_dictionary)
    Query("q114_pairing_agreement", (s, dir) =>
      Agreement.agreementWithPairing(s, Inundate.run(s, dir),
          when(col("depth_max") > 0.5, 2).when(col("depth_max") > 0.0, 1).otherwise(0),
          Agreement.pairingTable(s, Agreement.DepthClassPairing))
        .groupBy(col("agreement")).agg(count(lit(1)).as("n")),
      withCtes(pts, asg, ht, fc, stg, til, mos, mrects,
        """pair AS (SELECT * FROM (VALUES (0,0,0), (0,1,1), (1,0,2), (1,1,3),
          |  (2,0,4), (2,1,5), (4,0,6), (4,1,6)) v(cand, bench, agreement))""".stripMargin,
        """cb AS (
          |  SELECT cell,
          |    CASE WHEN EXISTS (SELECT 1 FROM mrects m
          |           WHERE clat >= m.lat_min AND clat < m.lat_max
          |             AND clng >= m.lng_min AND clng < m.lng_max) THEN 4
          |         WHEN depth_max > CAST(0.5 AS DOUBLE) THEN 2
          |         WHEN depth_max > 0.0 THEN 1 ELSE 0 END AS cand,
          |    CASE WHEN (((cell // 268435456) % 268435456) * 31 + (cell % 268435456) * 17) % 10 < 4
          |         THEN 1 ELSE 0 END AS bench
          |  FROM (SELECT cell, depth_max,
          |          (((cell // 268435456) % 268435456) + CAST(0.5 AS DOUBLE)) / 4096.0 * 180.0 - 90.0 AS clat,
          |          ((cell % 268435456) + CAST(0.5 AS DOUBLE)) / 8192.0 * 360.0 - 180.0 AS clng
          |        FROM mos)
          |)""".stripMargin)(
        """SELECT p.agreement, count(*) AS n
          |FROM cb JOIN pair p ON cb.cand = p.cand AND cb.bench = p.bench
          |GROUP BY 1""".stripMargin)))
}
