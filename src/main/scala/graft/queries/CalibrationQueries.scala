package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import graft.synth.Synth
import OracleSql._

/** Synthetic rating curve (SRC) calibration and CatFIM queries: bankfull,
  * roughness, bathymetry, Manning recompute, rating grafts and the
  * categorical-FIM thresholds pushed through the curves. */
object CalibrationQueries {

  /** The hydraulic-geometry + Newton x^(2/3) oracle chain shared by
    * q103/q104/q107 — mirrors [[graft.ops.Calibration]]'s `fullGeom`
    * step for step (identical formula text, so the three queries cannot
    * desynchronize from the Scala side or from each other). `fgSelect` is
    * the SELECT prefix carrying whatever extra srcg columns the query
    * needs alongside the shared geometry derivation. */
  private def manningChainCtes(fgSelect: String): Seq[String] = Seq(
    s"""fg AS (
       |  SELECT $fgSelect,
       |    bed_area / length_km / CAST(1000.0 AS DOUBLE) AS wetted_perimeter,
       |    volume / length_km / CAST(1000.0 AS DOUBLE) AS wet_area
       |  FROM srcg
       |)""".stripMargin,
    """fh AS (
      |  SELECT *, CASE WHEN wetted_perimeter > CAST(0.0 AS DOUBLE)
      |                 THEN wet_area / wetted_perimeter
      |                 ELSE CAST(0.0 AS DOUBLE) END AS hydraulic_radius
      |  FROM fg
      |)""".stripMargin,
    """fx AS (
      |  SELECT *, CASE WHEN hydraulic_radius > CAST(0.0 AS DOUBLE)
      |                 THEN hydraulic_radius * hydraulic_radius
      |                 ELSE CAST(1.0 AS DOUBLE) END AS x2f
      |  FROM fh
      |)""".stripMargin,
    "f0 AS (SELECT *, sqrt(sqrt(x2f)) AS yf FROM fx)") ++
    (1 to 8).map(k =>
      s"""f$k AS (SELECT * REPLACE (
         |  (CAST(2.0 AS DOUBLE) * yf + x2f / (yf * yf)) / CAST(3.0 AS DOUBLE)
         |    AS yf) FROM f${k - 1})""".stripMargin)

  /** CatFIM sites (q55/q75): every 41st non-lake catchment × 5 threshold
    * magnitudes with their flows — `CatFim`'s site table. */
  private val catfimSites: String =
    s"""sites AS (
       |  SELECT hydroid, m.m AS m,
       |    CASE WHEN m.m = 0 THEN 'action' WHEN m.m = 1 THEN 'minor'
       |         WHEN m.m = 2 THEN 'moderate' WHEN m.m = 3 THEN 'major'
       |         ELSE 'record' END AS magnitude,
       |    (((hydroid * 53 + 11) % 4000) / 10.0 + CAST(5.0 AS DOUBLE))
       |      * (CAST(1.0 AS DOUBLE) + m.m * CAST(0.75 AS DOUBLE)) AS discharge
       |  FROM $hydroids, generate_series(0, 4) m(m)
       |  WHERE hydroid % 41 = 0 AND hydroid % 97 <> 0
       |)""".stripMargin

  /** Per-HydroID median calibration coefficient over the in-range
    * observations (q54/q65) — `Calibration.roughness`'s median step. */
  private val medianCoef: String =
    """medq AS (
      |  SELECT hydroid, sum(coef) / count(*) AS calb_hydroid
      |  FROM (SELECT hydroid, coef,
      |          row_number() OVER (PARTITION BY hydroid ORDER BY coef) AS rn,
      |          count(*) OVER (PARTITION BY hydroid) AS n
      |        FROM coefq
      |        WHERE qsrc > CAST(0.0 AS DOUBLE)
      |          AND chn < CAST(0.8 AS DOUBLE) AND chn > CAST(0.001 AS DOUBLE)
      |          AND obn < CAST(0.8 AS DOUBLE) AND obn > CAST(0.001 AS DOUBLE))
      |  WHERE rn = floor((n + 1) / 2.0) OR rn = floor((n + 2) / 2.0)
      |  GROUP BY hydroid
      |)""".stripMargin

  /** `<name>`: the synthetic USGS rating curves (hydroid, stage, `q`,
    * `cols`…) of the non-lake catchments matching `where` (q82/q97) —
    * `Calibration`'s USGS ladder. */
  private def usgsCurves(name: String, q: String, where: String, cols: String*): String = {
    val discharge =
      "(hydroid % 9 + 2) * stage + ((hydroid % 4) * CAST(0.3 AS DOUBLE) + CAST(0.4 AS DOUBLE)) * stage * stage"
    s"""$name AS (
       |  SELECT hydroid, stage,
       |    ${(s"$discharge AS $q" +: cols).mkString(",\n    ")}
       |  FROM $knots
       |  WHERE $where AND hydroid % 97 <> 0
       |)""".stripMargin
  }

  /** NWM recurrence flow of interval index `k` (0..4: 2/5/10/25/50 yr). */
  private def recurrenceFlow(k: String): String =
    s"(((hydroid * 37 + 19) % 3000) / 10.0 + CAST(10.0 AS DOUBLE)) * (CAST(1.0 AS DOUBLE) + $k * CAST(0.8 AS DOUBLE))"

  val queries: Seq[Query] = Seq(
    // G6 short-reach rating graft: donor selection by join rule
    Query("q43_rating_graft", (s, _) =>
      StreamNet.ratingGraft(StreamNet.reaches(s))
        .select(col("hydroid").cast("long").as("hydroid"), col("length_km"),
          col("donor_id").cast("long").as("donor_id")),
      withCtes(net)(
        """SELECT hydroid, length_km,
          |  CASE WHEN length_km < CAST(1.25 AS DOUBLE) AND to_node >= 0 THEN to_node
          |       ELSE hydroid END AS donor_id
          |FROM net""".stripMargin)),

    // J12 interval membership: CatFIM stage-threshold categories
    Query("q45_catfim", (s, _) => {
      val stg = RatingInterp.stages(s, Synth.forecast(s))
      stg.select(col("hydroid"), col("stage_m"),
        (lit(1.0) + (col("hydroid") % 4) * lit(0.5)).as("t_action"))
        .withColumn("category",
          when(col("stage_m") >= col("t_action") + 2.5, lit("major"))
            .when(col("stage_m") >= col("t_action") + 1.0, lit("moderate"))
            .when(col("stage_m") >= col("t_action"), lit("action"))
            .otherwise(lit("none")))
        .select(col("hydroid"), col("stage_m"), col("category"))
    },
      withCtes(ht, fc, stg)(
        """SELECT hydroid, stage_m,
          |  CASE WHEN stage_m >= t_action + CAST(2.5 AS DOUBLE) THEN 'major'
          |       WHEN stage_m >= t_action + CAST(1.0 AS DOUBLE) THEN 'moderate'
          |       WHEN stage_m >= t_action THEN 'action'
          |       ELSE 'none' END AS category
          |FROM (SELECT hydroid, stage_m,
          |        CAST(1.0 AS DOUBLE) + (hydroid % 4) * CAST(0.5 AS DOUBLE) AS t_action
          |      FROM stg)""".stripMargin)),

    // ---- SRC calibration family (lifecycle step 5; §2 A2/A9 analogs) ----
    // bankfull identification: argmin |NWM bankfull flow − SRC discharge|
    // per HydroID (identify_src_bankfull.py:98,129-134)
    Query("q52_bankfull", (s, _) => Calibration.bankfull(Calibration.srcGeom(s)),
      withCtes(srcg, bfq)(
        """SELECT hydroid, stage_bankfull, volume_bankfull, bedarea_bankfull,
          |  surfarea_bankfull, qdiff_bankfull FROM bfq""".stripMargin)),

    // channel/overbank subdivision + Manning recompute per portion
    // (subdiv_chan_obank_src.py:218-291); HR^(2/3) via the bit-portable
    // fixed-iteration Newton cube root
    Query("q53_subdiv", (s, _) =>
      Calibration.subdivide(Calibration.srcGeom(s).filter(col("hydroid") % 7 === 3))
        .select(col("hydroid"), col("stage"), col("vol_chan"),
          col("q_chan"), col("q_ob"), col("q_subdiv")),
      withCtes(Seq(srcg, bfq,
        """sd0 AS (
          |  SELECT s.hydroid, s.stage, s.length_km, s.slope, s.channel_n, s.overbank_n,
          |    s.volume, s.bed_area, b.stage_bankfull, b.volume_bankfull,
          |    b.bedarea_bankfull, b.surfarea_bankfull,
          |    CASE WHEN s.stage <= b.stage_bankfull THEN s.volume
          |         ELSE b.volume_bankfull + (s.stage - b.stage_bankfull) * b.surfarea_bankfull
          |    END AS vol_chan,
          |    CASE WHEN s.stage <= b.stage_bankfull THEN s.bed_area ELSE b.bedarea_bankfull END AS bed_chan
          |  FROM srcg s JOIN bfq b ON s.hydroid = b.hydroid
          |  WHERE s.hydroid % 7 = 3
          |)""".stripMargin,
        """sd1 AS (
          |  SELECT *,
          |    CASE WHEN stage <= stage_bankfull THEN bed_chan / length_km / CAST(1000.0 AS DOUBLE)
          |         ELSE bed_chan / length_km / CAST(1000.0 AS DOUBLE)
          |              + (stage - stage_bankfull) * CAST(2.0 AS DOUBLE)
          |    END AS wp_chan,
          |    CASE WHEN stage > stage_bankfull THEN volume - vol_chan ELSE CAST(0.0 AS DOUBLE) END AS vol_ob,
          |    CASE WHEN stage > stage_bankfull THEN bed_area - bed_chan ELSE CAST(0.0 AS DOUBLE) END AS bed_ob,
          |    vol_chan / length_km / CAST(1000.0 AS DOUBLE) AS wa_chan
          |  FROM sd0
          |)""".stripMargin,
        """sd2 AS (
          |  SELECT *,
          |    bed_ob / length_km / CAST(1000.0 AS DOUBLE) AS wp_ob,
          |    CASE WHEN wp_chan > CAST(0.0 AS DOUBLE) THEN wa_chan / wp_chan ELSE CAST(0.0 AS DOUBLE) END AS hr_chan,
          |    vol_ob / length_km / CAST(1000.0 AS DOUBLE) AS wa_ob
          |  FROM sd1
          |)""".stripMargin,
        """sd3 AS (
          |  SELECT *, CASE WHEN wp_ob > CAST(0.0 AS DOUBLE) THEN wa_ob / wp_ob ELSE CAST(0.0 AS DOUBLE) END AS hr_ob
          |  FROM sd2
          |)""".stripMargin,
        """sd4 AS (
          |  SELECT *,
          |    CASE WHEN hr_chan > CAST(0.0 AS DOUBLE) THEN hr_chan * hr_chan ELSE CAST(1.0 AS DOUBLE) END AS x2c,
          |    CASE WHEN hr_ob > CAST(0.0 AS DOUBLE) THEN hr_ob * hr_ob ELSE CAST(1.0 AS DOUBLE) END AS x2o
          |  FROM sd3
          |)""".stripMargin) ++ newtonCtes: _*)(
        """SELECT hydroid, stage, vol_chan, q_chan, q_ob, q_chan + q_ob AS q_subdiv
          |FROM (SELECT hydroid, stage, vol_chan,
          |        CASE WHEN hr_chan > CAST(0.0 AS DOUBLE)
          |             THEN wa_chan * yc * sqrt(slope) / channel_n ELSE CAST(0.0 AS DOUBLE) END AS q_chan,
          |        CASE WHEN hr_ob > CAST(0.0 AS DOUBLE)
          |             THEN wa_ob * yo * sqrt(slope) / overbank_n ELSE CAST(0.0 AS DOUBLE) END AS q_ob
          |      FROM i8)""".stripMargin)),

    // roughness calibration: per-HydroID median coef, feature-group mean
    // fallback, applied back to the SRC (src_roughness_optimization.py:276-400,546-561)
    Query("q54_roughness", (s, _) => Calibration.roughness(s),
      withCtes(srcg, obsu, obsq, coefq,
        medianCoef,
        """grpq AS (
          |  SELECT fg, sum(calb_hydroid) / count(*) AS calb_featgrp
          |  FROM (SELECT hydroid - hydroid % 2 AS fg, calb_hydroid FROM medq)
          |  GROUP BY fg
          |)""".stripMargin)(
        """SELECT u.hydroid, u.stage, u.discharge_cms AS precalb_cms,
          |  coalesce(m.calb_hydroid, g.calb_featgrp) AS calb_coef_final,
          |  CASE WHEN coalesce(m.calb_hydroid, g.calb_featgrp) IS NULL THEN u.discharge_cms
          |       WHEN u.discharge_cms = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
          |       ELSE u.discharge_cms / coalesce(m.calb_hydroid, g.calb_featgrp)
          |  END AS discharge_calb,
          |  CASE WHEN coalesce(m.calb_hydroid, g.calb_featgrp) IS NOT NULL THEN 'True' ELSE 'False' END AS calb_applied
          |FROM srcg u
          |LEFT JOIN medq m ON u.hydroid = m.hydroid
          |LEFT JOIN grpq g ON u.hydroid - u.hydroid % 2 = g.fg
          |WHERE u.hydroid % 23 < 4 AND u.i % 7 = 0""".stripMargin)),

    // flow-based CatFIM: per-site per-magnitude threshold FLOWS pushed
    // through the rating curve (generate_categorical_fim_flows.py:148-300)
    Query("q55_catfim_flow", (s, _) => CatFim.catfimFlow(s),
      withCtes(ht, fc,
        catfimSites,
        s"""cstg AS (
           |  SELECT hydroid, m, magnitude, discharge, $stageInterp AS stage_m
           |  FROM (SELECT s.hydroid, s.m, s.magnitude, s.discharge, ht.stage, ht.discharge_cms
          |        FROM ht JOIN sites s ON ht.hydroid = s.hydroid)
          |  GROUP BY hydroid, m, magnitude, discharge
          |)""".stripMargin)(
        """SELECT c.hydroid, c.magnitude, c.discharge AS mag_flow, c.stage_m,
          |  CASE WHEN f.q_now >= c.discharge THEN 1 ELSE 0 END AS is_active
          |FROM cstg c
          |JOIN (SELECT feature_id - 1000000 AS hydroid, discharge AS q_now FROM fc) f
          |  ON c.hydroid = f.hydroid""".stripMargin)),

    // CatFIM interval stages: whole-number inundation steps between
    // consecutive thresholds (+5 past major)
    Query("q67_catfim_intervals", (s, _) => CatFim.stageIntervals(s),
      withCtes(
        s"""iv AS (
          |  SELECT hydroid, m.m AS m,
          |    CAST(1.0 AS DOUBLE) + (hydroid % 4) * CAST(0.5 AS DOUBLE)
          |      + m.m * ((hydroid % 3) * CAST(1.5 AS DOUBLE)) AS t,
          |    CAST(1.0 AS DOUBLE) + (hydroid % 4) * CAST(0.5 AS DOUBLE)
          |      + (m.m + 1) * ((hydroid % 3) * CAST(1.5 AS DOUBLE)) AS t_next
          |  FROM $hydroids, generate_series(0, 3) m(m)
          |  WHERE hydroid % 41 = 0 AND hydroid % 97 <> 0
          |)""".stripMargin,
        """bounds AS (
          |  SELECT hydroid, m,
          |    CAST(floor(t) + CASE WHEN t = floor(t) THEN 1 ELSE 2 END AS BIGINT) AS lo,
          |    CASE WHEN m < 3 THEN CAST(floor(t_next) AS BIGINT)
          |         ELSE CAST(floor(t) + CASE WHEN t = floor(t) THEN 1 ELSE 2 END AS BIGINT) + 5
          |    END AS hi
          |  FROM iv
          |)""".stripMargin)(
        """SELECT hydroid,
          |  CASE WHEN m = 0 THEN 'action' WHEN m = 1 THEN 'minor'
          |       WHEN m = 2 THEN 'moderate' ELSE 'major' END AS category,
          |  v.v AS interval_stage
          |FROM bounds CROSS JOIN generate_series(0, 30) v(v)
          |WHERE hi - 1 >= lo AND v.v >= lo AND v.v <= hi - 1""".stripMargin)),

    // bathymetric SRC adjustment: sparse survey corrections merged in,
    // geometry adjusted, Manning discharge recomputed, stage-0 forced to 0
    // (bathymetric_adjustment.py:60-130)
    Query("q66_bathymetry", (s, _) => Calibration.bathymetry(s),
      {
        val newton = {
          val seed = "ib0 AS (SELECT *, sqrt(sqrt(x2b)) AS yb FROM b4)"
          val steps = (1 to 8).map(k =>
            s"ib$k AS (SELECT * REPLACE ((CAST(2.0 AS DOUBLE) * yb + x2b / (yb * yb)) / CAST(3.0 AS DOUBLE) AS yb) FROM ib${k - 1})")
          seed +: steps
        }
        withCtes(Seq(srcg,
          s"""bathyd AS (
            |  SELECT hydroid,
            |    ((hydroid * 29 + 5) % 500) / 10.0 AS missing_xs,
            |    ((hydroid * 17 + 3) % 200) / 10.0 AS missing_wp
            |  FROM $hydroids
            |  WHERE hydroid % 13 = 0
            |)""".stripMargin,
          """b0 AS (
            |  SELECT s.hydroid, s.stage, s.length_km, s.slope, s.channel_n,
            |    s.volume, s.bed_area, b.missing_xs, b.missing_wp,
            |    coalesce(b.missing_xs, CAST(0.0 AS DOUBLE)) AS mxs,
            |    coalesce(b.missing_wp, CAST(0.0 AS DOUBLE)) AS mwp
            |  FROM srcg s LEFT JOIN bathyd b ON s.hydroid = b.hydroid
            |  WHERE s.hydroid % 5 = 2 AND s.i % 7 = 0
            |)""".stripMargin,
          """b1 AS (
            |  SELECT *,
            |    volume + mxs * (length_km * CAST(1000.0 AS DOUBLE)) AS vol_adj,
            |    bed_area + mwp * (length_km * CAST(1000.0 AS DOUBLE)) AS bed_adj,
            |    bed_area / length_km / CAST(1000.0 AS DOUBLE) + mwp AS wp_adj
            |  FROM b0
            |)""".stripMargin,
          """b2 AS (
            |  SELECT *, vol_adj / length_km / CAST(1000.0 AS DOUBLE) AS wa_adj FROM b1
            |)""".stripMargin,
          """b3 AS (
            |  SELECT *, CASE WHEN wp_adj > CAST(0.0 AS DOUBLE) THEN wa_adj / wp_adj ELSE CAST(0.0 AS DOUBLE) END AS hr_adj
            |  FROM b2
            |)""".stripMargin,
          """b4 AS (
            |  SELECT *, CASE WHEN hr_adj > CAST(0.0 AS DOUBLE) THEN hr_adj * hr_adj ELSE CAST(1.0 AS DOUBLE) END AS x2b
            |  FROM b3
            |)""".stripMargin) ++ newton: _*)(
          """SELECT hydroid, stage,
            |  CASE WHEN missing_xs IS NOT NULL THEN 'USACE eHydro' ELSE '' END AS bathy_source,
            |  vol_adj,
            |  CASE WHEN stage = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
            |       WHEN hr_adj > CAST(0.0 AS DOUBLE) THEN wa_adj * yb * sqrt(slope) / channel_n
            |       ELSE CAST(0.0 AS DOUBLE) END AS discharge_adj
            |FROM ib8""".stripMargin)
      }),

    // downstream group-coefficient walk: uncalibrated reaches within 8 km of
    // the last run of >=2 consecutive calibrated reaches inherit its mean
    // coef — branch_network_tracer + group_manningn_calc as window algebra
    Query("q65_group_roughness", (s, _) => Calibration.groupRoughness(s),
      withRecursiveCtes(net, closure, arboAgg, chosenCte, lpCte,
        srcg, obsu, obsq, coefq,
        medianCoef,
        """base65 AS (
          |  SELECT l.hydroid, l.branch AS levelpath_id, n.length_km, a.arbolate_km, m.calb_hydroid
          |  FROM lp l JOIN net n ON l.hydroid = n.hydroid
          |  JOIN arbo a ON l.hydroid = a.hydroid
          |  LEFT JOIN medq m ON l.hydroid = m.hydroid
          |)""".stripMargin,
        """w1 AS (
          |  SELECT *,
          |    CASE WHEN calb_hydroid IS NOT NULL THEN 1 ELSE 0 END AS is_calb,
          |    sum(length_km) OVER win AS cumlen,
          |    sum(coalesce(calb_hydroid, CAST(0.0 AS DOUBLE))) OVER win AS cumcoef,
          |    sum(CASE WHEN calb_hydroid IS NOT NULL THEN 1 ELSE 0 END) OVER win AS k
          |  FROM base65
          |  WINDOW win AS (PARTITION BY levelpath_id ORDER BY arbolate_km, hydroid
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |)""".stripMargin,
        """w2 AS (
          |  SELECT *, coalesce(lag(is_calb, 1) OVER
          |    (PARTITION BY levelpath_id ORDER BY arbolate_km, hydroid), 0) AS prev_calb
          |  FROM w1
          |)""".stripMargin,
        """w3 AS (
          |  SELECT *, CASE WHEN is_calb = 1 AND prev_calb = 0 THEN 1 ELSE 0 END AS island_start
          |  FROM w2
          |)""".stripMargin,
        """w4 AS (
          |  SELECT *,
          |    last_value(CASE WHEN is_calb = 1 THEN cumlen END IGNORE NULLS) OVER win4 AS e_cumlen,
          |    last_value(CASE WHEN is_calb = 1 THEN cumcoef END IGNORE NULLS) OVER win4 AS e_cumcoef,
          |    last_value(CASE WHEN island_start = 1 THEN cumcoef - calb_hydroid END IGNORE NULLS) OVER win4 AS base_cumcoef,
          |    last_value(CASE WHEN island_start = 1 THEN k - 1 END IGNORE NULLS) OVER win4 AS base_k
          |  FROM w3
          |  WINDOW win4 AS (PARTITION BY levelpath_id ORDER BY arbolate_km, hydroid
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |)""".stripMargin)(
        """SELECT hydroid, levelpath_id, CAST(is_calb AS INT) AS is_calb,
          |  CASE WHEN is_calb = 0 THEN cumlen - e_cumlen END AS accum_dist,
          |  CASE WHEN is_calb = 0 AND e_cumlen IS NOT NULL
          |            AND cumlen - e_cumlen < CAST(8.0 AS DOUBLE) AND k - base_k > 1
          |       THEN (e_cumcoef - base_cumcoef) / (k - base_k) END AS group_calb_coef,
          |  coalesce(calb_hydroid,
          |    CASE WHEN is_calb = 0 AND e_cumlen IS NOT NULL
          |              AND cumlen - e_cumlen < CAST(8.0 AS DOUBLE) AND k - base_k > 1
          |         THEN (e_cumcoef - base_cumcoef) / (k - base_k) END) AS calb_final
          |FROM w4""".stripMargin)),

    // src.json round-trip: per-HydroID knot lists → to_json → from_json →
    // re-exploded rows (add_crosswalk.py:407-430); the oracle is the identity,
    // so any JSON mangling of doubles breaks the hash
    Query("q57_src_json", (s, _) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("knots", ArrayType(StructType(Seq(
        StructField("i", IntegerType), StructField("stage", DoubleType),
        StructField("q", DoubleType)))))))
      Synth.hydrotable(s).filter(Synth.isGage(col("hydroid")))
        .groupBy(col("hydroid"))
        .agg(to_json(struct(sort_array(collect_list(struct(col("i").cast("int").as("i"),
          col("stage"), col("discharge_cms").as("q")))).as("knots"))).as("js"))
        .select(col("hydroid"), from_json(col("js"), schema).as("p"))
        .select(col("hydroid"), explode(col("p.knots")).as("k"))
        .select(col("hydroid"), col("k.i").as("i"), col("k.stage").as("stage"),
          col("k.q").as("discharge_cms"))
    },
      withCtes(srcg)(
        "SELECT hydroid, CAST(i AS INT) AS i, stage, discharge_cms FROM srcg WHERE hydroid % 199 = 0")),

    // A9 pivot on the real calibration table: per-HydroID coefficient per
    // observation slot (df_nvalues pivot_table analog,
    // src_roughness_optimization.py:313-316)
    Query("q60_calb_pivot", (s, _) =>
      Calibration.obsCoefs(s).filter(col("qsrc") > 0.0)
        .groupBy(col("hydroid")).pivot("j", Seq(0, 1, 2)).agg(min(col("coef")))
        .select(col("hydroid"), col("0").as("coef_j0"), col("1").as("coef_j1"),
          col("2").as("coef_j2")),
      withCtes(srcg, obsu, obsq, coefq)(
        """SELECT hydroid,
          |  min(CASE WHEN j = 0 THEN coef END) AS coef_j0,
          |  min(CASE WHEN j = 1 THEN coef END) AS coef_j1,
          |  min(CASE WHEN j = 2 THEN coef END) AS coef_j2
          |FROM coefq WHERE qsrc > CAST(0.0 AS DOUBLE)
          |GROUP BY hydroid""".stripMargin)),

    // CatFIM site-acceptance workflow: thresholds complete, record flow
    // inside the rating curve's domain, coordinate-accuracy gate
    Query("q75_catfim_sites", (s, _) => CatFim.siteAcceptance(s),
      withCtes(ht,
        catfimSites,
        """thrq AS (
          |  SELECT hydroid, count(*) AS n_mags,
          |    max(CASE WHEN magnitude = 'record' THEN discharge END) AS record_flow
          |  FROM sites GROUP BY hydroid
          |)""".stripMargin,
        "qmx AS (SELECT hydroid, max(discharge_cms) AS q_curve_max FROM ht GROUP BY hydroid)")(
        """SELECT t.hydroid, t.n_mags, t.record_flow, q.q_curve_max,
          |  CAST(CASE WHEN t.record_flow <= q.q_curve_max THEN 1 ELSE 0 END AS INT) AS flow_in_range,
          |  CAST(CASE WHEN t.hydroid % 11 <> 3 THEN 1 ELSE 0 END AS INT) AS coord_ok,
          |  CAST(CASE WHEN t.record_flow <= q.q_curve_max AND t.hydroid % 11 <> 3
          |            AND t.n_mags = 5 THEN 1 ELSE 0 END AS INT) AS accepted
          |FROM thrq t JOIN qmx q ON t.hydroid = q.hydroid""".stripMargin)),

    // sierra test: FIM SRC vs USGS rating curve interpolated at the 5 NWM
    // recurrence-interval flows, per-gage elevation differences
    Query("q82_sierra", (s, _) => Calibration.sierraTest(s),
      withCtes(ht,
        usgsCurves("usgk", "discharge_cms", "hydroid % 199 = 0"),
        s"""rcr AS (
           |  SELECT hydroid,
           |    CASE k.k WHEN 0 THEN 2 WHEN 1 THEN 5 WHEN 2 THEN 10 WHEN 3 THEN 25
           |         ELSE 50 END AS interval,
           |    ${recurrenceFlow("k.k")} AS discharge
           |  FROM $hydroids, generate_series(0, 4) k(k)
           |  WHERE hydroid % 199 = 0 AND hydroid % 97 <> 0
           |)""".stripMargin,
        s"""fstg AS (
           |  SELECT hydroid, interval, discharge, $stageInterp AS fim_stage
           |  FROM (SELECT h.hydroid, h.stage, h.discharge_cms, r.interval, r.discharge
           |        FROM ht h JOIN rcr r ON h.hydroid = r.hydroid
           |        WHERE h.hydroid % 199 = 0 AND h.hydroid % 97 <> 0)
           |  GROUP BY hydroid, interval, discharge
           |)""".stripMargin,
        s"""ustg AS (
           |  SELECT hydroid, interval, discharge, $stageInterp AS usgs_stage
           |  FROM (SELECT u.hydroid, u.stage, u.discharge_cms, r.interval, r.discharge
           |        FROM usgk u JOIN rcr r ON u.hydroid = r.hydroid)
           |  GROUP BY hydroid, interval, discharge
           |)""".stripMargin)(
        """SELECT f.hydroid, f.interval, f.discharge AS flow, f.fim_stage,
          |  u.usgs_stage, f.fim_stage - u.usgs_stage AS elev_diff
          |FROM fstg f JOIN ustg u
          |  ON f.hydroid = u.hydroid AND f.interval = u.interval
          |     AND f.discharge = u.discharge""".stripMargin)),

    // G6 FULL donor ladder: short-reach rating graft with the reference's
    // complete case ladder (upstream max-order winner / downstream / self)
    // and the donor's curve applied back (add_crosswalk.py:110-318)
    Query("q79_rating_graft_full", (s, _) =>
      StreamNet.ratingGraftFull(s, StreamNet.reaches(s)),
      withCtes(net, ht,
        """shrt AS (
          |  SELECT hydroid, to_node FROM net
          |  WHERE ((hydroid % 13) + 5) * CAST(0.4 AS DOUBLE) < CAST(3.0 AS DOUBLE)
          |    AND length_km < CAST(1.25 AS DOUBLE)
          |    AND hydroid % 97 <> 0
          |)""".stripMargin,
        """upw AS (
          |  SELECT hydroid, up_id AS up_donor FROM (
          |    SELECT s.hydroid, u.hydroid AS up_id,
          |      row_number() OVER (PARTITION BY s.hydroid
          |        ORDER BY u.order_ DESC, u.hydroid) AS rn
          |    FROM shrt s JOIN net u ON u.to_node = s.hydroid)
          |  WHERE rn = 1
          |)""".stripMargin,
        """don AS (
          |  SELECT s.hydroid,
          |    COALESCE(w.up_donor, CASE WHEN s.to_node >= 0 THEN s.to_node END,
          |             s.hydroid) AS donor_id,
          |    CASE WHEN w.up_donor IS NOT NULL THEN 'upstream'
          |         WHEN s.to_node >= 0 THEN 'downstream' ELSE 'self' END AS rule
          |  FROM shrt s LEFT JOIN upw w ON s.hydroid = w.hydroid
          |)""".stripMargin,
        """kn AS (
          |  SELECT hydroid AS donor_id, i, stage, discharge_cms AS discharge_grafted
          |  FROM (SELECT hydroid, stage, discharge_cms,
          |          CAST(round(stage / CAST(0.3048 AS DOUBLE)) AS BIGINT) AS i
          |        FROM ht)
          |  WHERE i % 21 = 0
          |)""".stripMargin)(
        """SELECT d.hydroid, d.donor_id, d.rule, k.i, k.stage, k.discharge_grafted
          |FROM don d JOIN kn k ON k.donor_id = d.donor_id""".stripMargin)),

    // USGS rating-trace calibration: gage coefficients propagated along the
    // level path up/downstream to 8 km, lake/branch breaks, nearest-gage-wins
    Query("q88_rating_trace", (s, _) => Calibration.usgsRatingTrace(s),
      withRecursiveCtes(net, closure, arboAgg, chosenCte, lpCte,
        """tr AS (
          |  SELECT n.hydroid, l.branch, (n.hydroid // 144) % 8 AS lr, n.length_km,
          |    CASE WHEN n.hydroid % 97 = 0 THEN 1 ELSE 0 END AS lake
          |  FROM net n JOIN lp l ON n.hydroid = l.hydroid
          |)""".stripMargin,
        """trw AS (
          |  SELECT *,
          |    sum(length_km) OVER (PARTITION BY branch ORDER BY lr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumdown,
          |    min(CASE WHEN lake = 1 THEN lr END) OVER (PARTITION BY branch ORDER BY lr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minlakeup,
          |    sum(length_km) OVER (PARTITION BY branch ORDER BY lr ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumup,
          |    max(CASE WHEN lake = 1 THEN lr END) OVER (PARTITION BY branch ORDER BY lr ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS maxlakedown,
          |    lead(length_km) OVER (PARTITION BY branch ORDER BY lr ASC) AS len_next
          |  FROM tr
          |)""".stripMargin,
        """trw2 AS (
          |  SELECT *, lead(maxlakedown) OVER (PARTITION BY branch ORDER BY lr ASC) AS maxlakenext
          |  FROM trw
          |)""".stripMargin,
        """gg AS (
          |  SELECT hydroid AS gage_id, branch, lr AS lr_g, cumdown AS cumdown_g,
          |         cumup AS cumup_g, length_km AS len_g
          |  FROM trw2 WHERE hydroid % 199 = 0
          |)""".stripMargin,
        """cand AS (
          |  SELECT r.hydroid, g.gage_id, r.cumdown - g.cumdown_g + g.len_g AS dist_km, 1 AS dir_down
          |  FROM trw2 r JOIN gg g ON r.branch = g.branch
          |  WHERE r.lr <= g.lr_g AND r.cumdown - g.cumdown_g + g.len_g < CAST(8.0 AS DOUBLE)
          |    AND (r.minlakeup IS NULL OR r.minlakeup > g.lr_g)
          |  UNION ALL
          |  SELECT r.hydroid, g.gage_id, r.cumup - g.cumup_g + r.len_next AS dist_km, 0 AS dir_down
          |  FROM trw2 r JOIN gg g ON r.branch = g.branch
          |  WHERE r.lr >= g.lr_g + 1 AND r.len_next IS NOT NULL
          |    AND r.cumup - g.cumup_g + r.len_next < CAST(8.0 AS DOUBLE)
          |    AND (r.maxlakenext IS NULL OR r.maxlakenext <= g.lr_g)
          |)""".stripMargin)(
        """SELECT hydroid, gage_id, dist_km, dir_down,
          |  ((gage_id * 31 + 7) % 11 - 5) * CAST(0.05 AS DOUBLE) + CAST(1.0 AS DOUBLE) AS calb_coef_usgs
          |FROM (SELECT *, row_number() OVER (PARTITION BY hydroid ORDER BY dist_km, gage_id) AS rn
          |      FROM cand)
          |WHERE rn = 1""".stripMargin)),

    // manual calibration overrides: operator coefficient table merged over
    // the hydrotable, discharge = postcalb / coef, provenance kept
    Query("q92_manual_calb", (s, _) => Calibration.manualCalibration(s),
      withCtes(
        s"""ht92 AS (
           |  SELECT hydroid, 1000000 + hydroid AS feature_id, i, stage,
           |    $srcDischarge AS postcalb_discharge_cms
           |  FROM $knots
           |  WHERE i % 7 = 0
           |)""".stripMargin,
        """man AS (
          |  SELECT 1000000 + x AS feature_id,
          |    ((1000000 + x) % 9 + 2) / CAST(4.0 AS DOUBLE) AS calb_coef_manual
          |  FROM generate_series(0, 20735) t(x)
          |  WHERE (1000000 + x) % 37 = 0
          |)""".stripMargin)(
        """SELECT h.hydroid, h.feature_id, CAST(h.i AS BIGINT) AS i, h.stage,
          |  h.postcalb_discharge_cms, m.calb_coef_manual,
          |  CASE WHEN m.calb_coef_manual IS NULL THEN h.postcalb_discharge_cms
          |       ELSE h.postcalb_discharge_cms / m.calb_coef_manual END AS discharge_cms,
          |  CASE WHEN m.calb_coef_manual IS NOT NULL THEN 1 ELSE 0 END AS calb_applied
          |FROM ht92 h LEFT JOIN man m ON h.feature_id = m.feature_id""".stripMargin)),

    // ras2fim rating calibration database: curve row nearest each NWM
    // recurrence flow (as-of join), HAND and 10%-variance quality gates
    Query("q97_ras2fim_rating", (s, _) => Calibration.ras2fimRating(s),
      withCtes(
        usgsCurves("c97", "q_ras", "hydroid % 31 = 5", "stage - CAST(0.25 AS DOUBLE) AS hand"),
        s"""r97 AS (
           |  SELECT hydroid,
           |    ['2_0_year','5_0_year','10_0_year','25_0_year','50_0_year'][k.k + 1] AS nwm_recur,
           |    ${recurrenceFlow("k.k")} AS nwm_recur_flow_cms
           |  FROM $hydroids, generate_series(0, 4) k(k)
           |  WHERE hydroid % 31 = 5 AND hydroid % 97 <> 0
           |)""".stripMargin,
        """j97 AS (
          |  SELECT c.hydroid, r.nwm_recur, r.nwm_recur_flow_cms, c.stage, c.hand, c.q_ras,
          |    row_number() OVER (PARTITION BY c.hydroid, r.nwm_recur
          |      ORDER BY abs(c.q_ras - r.nwm_recur_flow_cms), c.stage) AS rn
          |  FROM c97 c JOIN r97 r ON c.hydroid = r.hydroid
          |)""".stripMargin)(
        s"""SELECT 'xs_' || CAST(hydroid AS VARCHAR) AS location_id, hydroid,
           |  hydroid + 1000000 AS feature_id, $huc8FromHydroid AS huc8,
           |  nwm_recur, hand, q_ras AS discharge_cms, nwm_recur_flow_cms,
           |  abs((q_ras - nwm_recur_flow_cms) / q_ras) AS check_variance
           |FROM j97
           |WHERE rn = 1 AND hand > CAST(0.0 AS DOUBLE)
           |  AND abs((q_ras - nwm_recur_flow_cms) / q_ras) < CAST(0.1 AS DOUBLE)""".stripMargin)),

    // SRC finalize: hydraulic columns re-derived + Manning discharge via
    // the bit-portable Newton x^(2/3) chain, stage-0 zeroed
    Query("q103_src_finalize", (s, _) => Calibration.finalizeSrcs(s),
      withCtes(srcg +: manningChainCtes(
        """hydroid, 1000000 + hydroid AS feature_id, i, stage, channel_n,
          |    slope,
          |    surface_area / length_km / CAST(1000.0 AS DOUBLE) AS top_width""".stripMargin): _*)(
        """SELECT hydroid, feature_id, CAST(i AS BIGINT) AS i, stage, top_width,
          |  wetted_perimeter, wet_area, hydraulic_radius,
          |  CASE WHEN stage = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
          |       WHEN hydraulic_radius > CAST(0.0 AS DOUBLE)
          |       THEN wet_area * yf * sqrt(slope) / channel_n
          |       ELSE CAST(0.0 AS DOUBLE) END AS discharge_cms
          |FROM f8""".stripMargin)),

    // Manning's-N reset + small-segment donor replacement (the in-place
    // id-ordered loop resolved to a depth-2 closed form)
    Query("q104_mannings_reset", (s, _) =>
      Calibration.resetMannings(s, StreamNet.reaches(s)),
      withCtes(Seq(srcg, net) ++
        manningChainCtes("hydroid, i, stage, slope") ++ Seq(
        """rq AS (
          |  SELECT hydroid, i, stage,
          |    CASE WHEN stage = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
          |         WHEN hydraulic_radius > CAST(0.0 AS DOUBLE)
          |         THEN wet_area * yf * sqrt(slope) / CAST(0.06 AS DOUBLE)
          |         ELSE CAST(0.0 AS DOUBLE) END AS q_reset
          |  FROM f8
          |)""".stripMargin,
        """ups AS (
          |  SELECT to_node AS hydroid, count(*) AS n_up,
          |    min((8 - order_) * 16777216 + hydroid) AS upk
          |  FROM net WHERE to_node >= 0 GROUP BY to_node
          |)""".stripMargin,
        """dn1 AS (
          |  SELECT n.hydroid,
          |    (((n.hydroid * 7 + 3) % 40) / CAST(20.0 AS DOUBLE) < CAST(0.25 AS DOUBLE)
          |      AND n.length_km < CAST(1.2 AS DOUBLE)
          |      AND n.hydroid % 97 <> 0) AS small,
          |    CASE WHEN u.n_up >= 1 THEN u.upk % 16777216
          |         WHEN n.to_node >= 0 THEN n.to_node
          |         ELSE n.hydroid END AS donor1,
          |    u.n_up IS NULL AS headwater
          |  FROM net n LEFT JOIN ups u ON n.hydroid = u.hydroid
          |)""".stripMargin,
        """dnr AS (
          |  SELECT a.hydroid,
          |    CASE WHEN NOT a.small THEN NULL
          |         WHEN a.headwater AND b.small THEN b.donor1
          |         ELSE a.donor1 END AS donor_id,
          |    CASE WHEN a.small THEN 1 ELSE 0 END AS is_small
          |  FROM dn1 a LEFT JOIN dn1 b ON a.donor1 = b.hydroid
          |)""".stripMargin): _*)(
        """SELECT s.hydroid, s.i, s.stage, CAST(0.06 AS DOUBLE) AS manning_n,
          |  CASE WHEN d.donor_id IS NOT NULL THEN dq.q_reset
          |       ELSE s.q_reset END AS discharge_cms,
          |  d.donor_id, CAST(d.is_small AS INT) AS is_small
          |FROM rq s JOIN dnr d ON s.hydroid = d.hydroid
          |LEFT JOIN rq dq ON dq.hydroid = d.donor_id AND dq.i = s.i""".stripMargin)),

    // composite variable roughness: channel-volume ratio blends channel and
    // overbank n per knot; incomplete roughness table falls back
    Query("q107_vary_mannings", (s, _) => Calibration.variableMannings(s),
      withCtes(Seq(srcg, bfq) ++ manningChainCtes(
        """hydroid, 1000000 + hydroid AS feature_id, i, stage, slope,
          |    channel_n, volume, bankfull_flow, discharge_cms""".stripMargin) ++ Seq(
        """mann AS (
          |  SELECT 1000000 + x AS feature_id,
          |    CAST(0.02 AS DOUBLE) + ((1000000 + x) % 9) * CAST(0.005 AS DOUBLE) AS vm_channel_n,
          |    CAST(0.08 AS DOUBLE) + ((1000000 + x) % 5) * CAST(0.02 AS DOUBLE) AS vm_overbank_n
          |  FROM generate_series(0, 20735) t(x) WHERE (1000000 + x) % 17 <> 4
          |)""".stripMargin,
        """rt7 AS (
          |  SELECT f.*, b.volume_bankfull, m.vm_channel_n, m.vm_overbank_n,
          |    CASE WHEN f.stage = CAST(0.0 AS DOUBLE) THEN CAST(1.0 AS DOUBLE)
          |         ELSE b.volume_bankfull / f.volume END AS ratio0
          |  FROM f8 f JOIN bfq b ON f.hydroid = b.hydroid
          |  LEFT JOIN mann m ON f.feature_id = m.feature_id
          |)""".stripMargin,
        """rr7 AS (
          |  SELECT *, CASE WHEN bankfull_flow > CAST(0.0 AS DOUBLE)
          |         THEN (CASE WHEN ratio0 <= CAST(1.0 AS DOUBLE) THEN ratio0
          |               ELSE CAST(1.0 AS DOUBLE) END)
          |         ELSE CAST(0.0 AS DOUBLE) END AS chann_volume_ratio
          |  FROM rt7
          |)""".stripMargin,
        """cc7 AS (
          |  SELECT *, chann_volume_ratio * vm_channel_n
          |    + (CAST(1.0 AS DOUBLE) - chann_volume_ratio) * vm_overbank_n AS comp_n
          |  FROM rr7
          |)""".stripMargin): _*)(
        """SELECT hydroid, feature_id, i, stage, chann_volume_ratio,
          |  CAST(CASE WHEN comp_n IS NOT NULL THEN 1 ELSE 0 END AS INT) AS vmann_on,
          |  CASE WHEN comp_n IS NOT NULL THEN comp_n ELSE channel_n END AS vmann_manning_n,
          |  CASE WHEN comp_n IS NULL THEN discharge_cms
          |       WHEN hydraulic_radius > CAST(0.0 AS DOUBLE)
          |       THEN wet_area * yf * sqrt(slope) / comp_n
          |       ELSE CAST(0.0 AS DOUBLE) END AS vmann_discharge_cms
          |FROM cc7""".stripMargin)))
}
