package graft
package queries

import org.apache.spark.sql.functions._
import graft.geo.Cells
import graft.ops._
import graft.pipeline.Inundate
import graft.synth.Synth
import OracleSql._

/** Hydrofabric and inundation queries: geocode, point-in-polygon assignment,
  * rating-curve stage, depth tiles and mosaic, the stream network, terrain and
  * the raster products built on them. */
object HydroQueries {

  /** Centroids (hydroid, lat_c, lng_c) of the 105 gage catchments (hydroid
    * = 199·x) — the kNN target table of q09/q47/q48. */
  private val gageCentroids: String =
    s"""gc AS (
       |  SELECT hydroid, ${latCSql("hydroid")} AS lat_c, ${lngCSql("hydroid")} AS lng_c
       |  FROM (SELECT 199 * x AS hydroid FROM generate_series(0, 104) t(x))
       |)""".stripMargin

  /** `d`: every (point of `points`, gage) pair within the 5° distance cap. */
  private def gageDistances(points: String): String = {
    val d2 = "(p.lat - gc.lat_c) * (p.lat - gc.lat_c) + (p.lng - gc.lng_c) * (p.lng - gc.lng_c)"
    s"""d AS (
       |  SELECT p.pid, gc.hydroid, $d2 AS d2
       |  FROM $points p CROSS JOIN gc
       |  WHERE $d2 <= 25.0
       |)""".stripMargin
  }

  /** River flag of a [[demCte]] cell (Terrain.grid's `river`). */
  private val riverCol = "CASE WHEN c.x % 12 = 5 OR r.x % 36 = 18 THEN 1 ELSE 0 END AS river"

  /** Elevation of DEM cell `gid`. */
  private def gidElevSql(gid: String): String = elevSql(s"($gid // 144)", s"($gid % 144)")

  /** Nearest candidate within Chebyshev 6 as a packed
    * min(d² · 2²⁰ + gid) — Terrain's block-halo argmin (q100/q115). */
  private def nnSql(probe: String, cand: String, filter: String): String =
    s"""SELECT g.gid, min(CAST((v.r - g.r) * (v.r - g.r)
       |    + (v.c - g.c) * (v.c - g.c) AS BIGINT) * 1048576 + v.gid) AS packed
       |  FROM $probe g JOIN $cand v
       |    ON $filter
       |    AND v.r BETWEEN g.r - 6 AND g.r + 6
       |    AND v.c BETWEEN g.c - 6 AND g.c + 6
       |  GROUP BY g.gid""".stripMargin

  val queries: Seq[Query] = Seq(
    // S1-S4 scan + deterministic geocode synthesis (§2.10 #6)
    Query("q01_geocode", (s, dir) =>
      Synth.points(s, dir).select(col("pid"), col("lat"), col("lng"), col("hand")),
      withCtes(pts)("SELECT pid, lat, lng, hand FROM pts")),

    // §2.10 #1 cell codec: encode + parent (raster georeferencing analog)
    Query("q02_cell_encode", (s, dir) =>
      Synth.points(s, dir).select(
        col("pid"), col("cell"),
        Cells.cellToParentCol(col("cell"), Cells.BaseRes, Cells.CoarseRes).as("parent5")),
      withCtes(pts, asg)(
        s"SELECT pid, cell, ${parentSql("cell", Cells.BaseRes, Cells.CoarseRes)} AS parent5 FROM asg")),

    // J3 point-in-polygon broadcast join (core custom operator)
    Query("q03_pip_join", (s, dir) =>
      SpatialJoin.assign(s, Synth.points(s, dir)).select(
        col("pid"), col("hydroid").cast("long").as("hydroid"),
        col("feature_id").cast("long").as("feature_id"), col("huc8")),
      withCtes(pts, asg)(
        s"SELECT pid, hydroid, 1000000 + hydroid AS feature_id, $huc8FromHydroid AS huc8 FROM asg")),

    // SRC synthesis: 84-knot Manning-like rating curves (gage subset)
    Query("q04_hydrotable", (s, _) =>
      Synth.hydrotable(s).filter(Synth.isGage(col("hydroid")))
        .select(col("hydroid"), col("stage"), col("discharge_cms")),
      withCtes(ht)(
        "SELECT hydroid, stage, discharge_cms FROM ht WHERE hydroid % 199 = 0")),

    // J1+A5: forecast join + np.interp stage (the hot join)
    Query("q05_interp_stage", (s, _) =>
      RatingInterp.stages(s, Synth.forecast(s))
        .select(col("hydroid"), col("stage_m")),
      withCtes(ht, fc, stg)("SELECT hydroid, stage_m FROM stg")),

    // §3.2 pixel kernel: depth/class per point-tile
    Query("q06_tiles", (s, dir) =>
      Inundate.tiles(s, Synth.points(s, dir)).select(
        col("pid"), col("hydroid").cast("long").as("hydroid"),
        col("hand"), col("stage_m"), col("depth"), col("clazz")),
      withCtes(pts, asg, ht, fc, stg, til)(
        """SELECT pid, hydroid, hand, stage_m, depth,
          |  CAST(CASE WHEN depth > 0 THEN hydroid ELSE -hydroid END AS INT) AS clazz
          |FROM til""".stripMargin)),

    // A6 mosaic: per-cell max (nanmax analog)
    Query("q07_mosaic", (s, dir) =>
      Inundate.run(s, dir).select(
        col("cell"), col("depth_max"), col("clazz"), col("n_points")),
      withCtes(pts, asg, ht, fc, stg, til)(
        """SELECT cell, max(depth) AS depth_max,
          |  max(CAST(CASE WHEN depth > 0 THEN hydroid ELSE -hydroid END AS INT)) AS clazz,
          |  count(*) AS n_points
          |FROM til GROUP BY cell""".stripMargin)),

    // A1/A3 zonal min/max + counts per catchment
    Query("q08_zonal", (s, dir) =>
      SpatialJoin.assign(s, Synth.points(s, dir))
        .groupBy(col("hydroid").cast("long").as("hydroid"))
        .agg(min(col("hand")).as("hand_min"), max(col("hand")).as("hand_max"),
          count(lit(1)).as("n")),
      withCtes(pts, asg)(
        """SELECT hydroid, min(hand) AS hand_min, max(hand) AS hand_max, count(*) AS n
          |FROM asg GROUP BY hydroid""".stripMargin)),

    // J2/J5 kNN nearest-gage with distance cap
    Query("q09_knn_gage", (s, dir) =>
      KnnJoin.nearestGage(s, Synth.points(s, dir)).select(
        col("pid"), col("nn_hydroid").cast("long").as("nn_hydroid"), col("nn_dist2")),
      withCtes(pts,
        gageCentroids,
        gageDistances("pts"),
        "m AS (SELECT pid, min(d2) AS md FROM d GROUP BY pid)")(
        """SELECT p.pid, w.nn_hydroid, w.nn_dist2
          |FROM (SELECT DISTINCT pid FROM pts) p LEFT JOIN (
          |  SELECT d.pid, min(d.hydroid) AS nn_hydroid, m.md AS nn_dist2
          |  FROM d JOIN m ON d.pid = m.pid AND d.d2 = m.md
          |  GROUP BY d.pid, m.md) w ON p.pid = w.pid""".stripMargin)),

    // North-rule skew: salted two-stage agg over dense coarse cells
    Query("q10_salted_hot", (s, dir) =>
      SaltedAgg.countAndMax(Synth.points(s, dir),
        col("ccell"), col("pid"), col("hand"), 32)
        .select(col("k"), col("n"), col("mx")),
      withCtes(pts)(
        s"""SELECT ${cellOfSql("lat", "lng", Cells.CoarseRes)} AS k,
           |  count(*) AS n, max(hand) AS mx
           |FROM pts GROUP BY 1""".stripMargin)),

    // ---- graph ops (§2.9) over the synthetic stream network ----
    // network synthesis (reach table)
    Query("q23_reaches", (s, _) =>
      StreamNet.reaches(s).select(col("hydroid").cast("long").as("hydroid"), col("huc8"),
        col("order_").cast("int").as("order_"), col("length_km"),
        col("to_node").cast("long").as("to_node")),
      withCtes(net)(
        "SELECT hydroid, huc8, order_, length_km, to_node FROM net")),

    // G2 endpoints via anti-join semantics
    Query("q24_endpoints", (s, _) =>
      StreamNet.endpoints(StreamNet.reaches(s))
        .select(col("hydroid").cast("long").as("hydroid"), col("is_outlet"), col("is_headwater")),
      withCtes(net)(
        """SELECT n.hydroid, CASE WHEN n.to_node = -1 THEN 1 ELSE 0 END AS is_outlet,
          |  CASE WHEN u.hydroid IS NULL THEN 1 ELSE 0 END AS is_headwater
          |FROM net n LEFT JOIN (SELECT DISTINCT to_node AS hydroid FROM net WHERE to_node >= 0) u
          |  ON n.hydroid = u.hydroid""".stripMargin)),

    // G3 arbolate sum — per-HUC in-memory kernel vs recursive-CTE oracle
    Query("q25_arbolate", (s, _) =>
      StreamNet.arbolate(s, StreamNet.reaches(s))
        .select(col("huc8"), col("hydroid").cast("long").as("hydroid"), col("arbolate_km")),
      withRecursiveCtes(net, closure)(
        """SELECT n2.huc8, c.d AS hydroid, sum(n.length_km) AS arbolate_km
          |FROM cl c JOIN net n ON c.u = n.hydroid JOIN net n2 ON c.d = n2.hydroid
          |GROUP BY n2.huc8, c.d""".stripMargin)),

    // G4 level-path assignment (deterministic confluence tie-breaks)
    Query("q26_levelpath", (s, _) =>
      StreamNet.levelPaths(s, StreamNet.reaches(s))
        .select(col("huc8"), col("hydroid").cast("long").as("hydroid"),
          col("levelpath_id").cast("long").as("levelpath_id")),
      withRecursiveCtes(net, closure, arboAgg, chosenCte, lpCte)(
        """SELECT n.huc8, lp.hydroid, lp.branch AS levelpath_id
          |FROM lp JOIN net n ON lp.hydroid = n.hydroid""".stripMargin)),

    // G1+G5 NextDownID resolved from node-coordinate self-join
    Query("q27_next_down", (s, _) =>
      StreamNet.resolveNextDown(StreamNet.reaches(s))
        .select(col("hydroid").cast("long").as("hydroid"),
          col("next_down_id").cast("long").as("next_down_id")),
      withCtes(net)(
        "SELECT hydroid, to_node AS next_down_id FROM net")),

    // A10/W2: HUC-scoped sequence ids (deterministic row_number)
    Query("q28_seq_ids", (s, _) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("huc8")).orderBy(col("hydroid"))
      StreamNet.reaches(s)
        .withColumn("seq", row_number().over(w))
        .select(col("hydroid").cast("long").as("hydroid"),
          concat(substring(col("huc8"), 5, 4), lpad(col("seq").cast("string"), 4, "0")).as("hydro_str"))
    },
      withCtes(net)(
        """SELECT hydroid, substring(huc8, 5, 4)
          |  || lpad(CAST(CAST(row_number() OVER (PARTITION BY huc8 ORDER BY hydroid) AS INT) AS VARCHAR), 4, '0') AS hydro_str
          |FROM net""".stripMargin)),

    // W3 generator: split reaches into 0.5 km segments
    Query("q29_segments", (s, _) =>
      StreamNet.segments(StreamNet.reaches(s))
        .select(col("hydroid").cast("long").as("hydroid"), col("seg").cast("int").as("seg"),
          col("seg_start"), col("seg_end")),
      withCtes(net)(
        """SELECT hydroid, CAST(g.i AS INT) AS seg,
          |  (g.i - 1) * CAST(0.5 AS DOUBLE) AS seg_start,
          |  least(g.i * CAST(0.5 AS DOUBLE), length_km) AS seg_end
          |FROM net CROSS JOIN generate_series(1, 4) g(i)
          |WHERE g.i <= CAST(ceil(length_km / CAST(0.5 AS DOUBLE)) AS INT)""".stripMargin)),

    // A11/S11 per-HUC aggregation of the tile table (union-by-partition analog)
    Query("q40_huc_rollup", (s, dir) =>
      Inundate.tiles(s, Synth.points(s, dir))
        .groupBy(col("huc8"))
        .agg(count(lit(1)).as("n_tiles"),
          count(when(col("depth") > 0, 1)).as("n_wet"),
          max(col("depth")).as("max_depth"),
          countDistinct(col("cell")).as("n_cells")),
      withCtes(pts, asg, ht, fc, stg, til)(
        s"""SELECT $huc8FromHydroid AS huc8, count(*) AS n_tiles,
           |  count(CASE WHEN depth > 0 THEN 1 END) AS n_wet,
           |  max(depth) AS max_depth,
           |  count(DISTINCT cell) AS n_cells
           |FROM til GROUP BY 1""".stripMargin)),

    // G8 waterbody walk: follow downstream until out of the lake set
    Query("q44_waterbody_walk", (s, _) =>
      StreamNet.waterbodyExit(s, StreamNet.reaches(s))
        .select(col("huc8"), col("hydroid").cast("long").as("hydroid"),
          col("exit_node").cast("long").as("exit_node")),
      withRecursiveCtes(net,
        """wb AS (
          |  SELECT hydroid, huc8, to_node AS cur FROM net WHERE hydroid % 97 = 0
          |  UNION ALL
          |  SELECT wb.hydroid, wb.huc8, n.to_node AS cur
          |  FROM wb JOIN net n ON wb.cur = n.hydroid
          |  WHERE wb.cur >= 0 AND wb.cur % 97 = 0
          |)""".stripMargin)(
        "SELECT huc8, hydroid, cur AS exit_node FROM wb WHERE cur < 0 OR cur % 97 <> 0")),

    // S6 point sampling: lookup join of gage points into the cell table
    // (window sample at CoarseRes — the masked-window read analog)
    Query("q48_point_sample", (s, dir) => {
      val gageCells = Synth.gages(s).select(col("hydroid").cast("long").as("gage_id"),
        Cells.latLngToCellCol(col("lat_c"), col("lng_c"), Cells.CoarseRes).as("ccell"))
      Synth.points(s, dir)
        .join(broadcast(gageCells), "ccell") // sample the raster around gages
        .groupBy(col("gage_id"))
        .agg(min(col("hand")).as("hand_min"), count(lit(1)).as("n_samples"))
    },
      withCtes(pts, asg,
        gageCentroids,
        s"""g48 AS (
           |  SELECT hydroid AS gage_id, ${cellOfSql("lat_c", "lng_c", Cells.CoarseRes)} AS ccell
           |  FROM gc
           |)""".stripMargin)(
        s"""SELECT g.gage_id, min(p.hand) AS hand_min, count(*) AS n_samples
           |FROM g48 g JOIN (SELECT pid, hand, ${cellOfSql("lat", "lng", Cells.CoarseRes)} AS ccell
           |  FROM pts) p ON p.ccell = g.ccell
           |GROUP BY g.gage_id""".stripMargin)),

    // J5 conflation: per-catchment gage by majority vote of member points
    Query("q47_knn_mode", (s, dir) => {
      val pts = Synth.points(s, dir)
      KnnJoin.modeConflation(SpatialJoin.assign(s, pts), KnnJoin.nearestGage(s, pts))
    },
      withCtes(pts, asg,
        gageCentroids,
        gageDistances("(SELECT DISTINCT pid, lat, lng FROM pts)"),
        "m AS (SELECT pid, min(d2) AS md FROM d GROUP BY pid)",
        """nnf AS (
          |  SELECT d.pid, min(d.hydroid) AS nn
          |  FROM d JOIN m ON d.pid = m.pid AND d.d2 = m.md GROUP BY d.pid
          |)""".stripMargin,
        """votes AS (
          |  SELECT a.hydroid, n.nn, count(*) AS votes
          |  FROM asg a JOIN nnf n ON a.pid = n.pid GROUP BY a.hydroid, n.nn
          |)""".stripMargin,
        """tot AS (
          |  SELECT hydroid, max(votes) AS mx, CAST(sum(votes) AS BIGINT) AS n_votes
          |  FROM votes GROUP BY hydroid
          |)""".stripMargin)(
        """SELECT v.hydroid, min(CASE WHEN v.votes = t.mx THEN v.nn END) AS gage_mode,
          |  t.mx AS mode_votes, t.n_votes
          |FROM votes v JOIN tot t ON v.hydroid = t.hydroid
          |GROUP BY v.hydroid, t.mx, t.n_votes""".stripMargin)),

    // S11 merged-raster reprojection analog: resample the mosaic onto a
    // TARGET grid (half the resolution, origin shifted 0.02°) — nearest-
    // neighbor reassignment by centroid + per-target-cell max, the relational
    // form of gdalwarp over the merged HUC raster
    Query("q70_resample", (s, dir) => {
      val mos = Inundate.run(s, dir)
        .withColumn("clat", Cells.centroidLatCol(col("cell"), Cells.BaseRes))
        .withColumn("clng", Cells.centroidLngCol(col("cell"), Cells.BaseRes))
      mos.groupBy(
        (floor((col("clat") + lit(90.0) - lit(0.02)) / lit(180.0) * lit(2048.0)).cast("long") * 4096
          + floor((col("clng") + lit(180.0) - lit(0.02)) / lit(360.0) * lit(4096.0)).cast("long"))
          .as("tcell"))
        .agg(max(col("depth_max")).as("depth_max"),
          count(lit(1)).as("n_src"),
          sum(col("n_points")).as("n_points"))
    },
      withCtes(pts, asg, ht, fc, stg, til,
        """mos70 AS (
          |  SELECT cell, max(depth) AS depth_max, count(*) AS n_points FROM til GROUP BY cell
          |)""".stripMargin,
        s"""cen70 AS (
           |  SELECT cell, depth_max, n_points,
           |    ${centroidLatSql("cell", Cells.BaseRes)} AS clat,
           |    ${centroidLngSql("cell", Cells.BaseRes)} AS clng
           |  FROM mos70
           |)""".stripMargin)(
        """SELECT CAST(floor((clat + 90.0 - CAST(0.02 AS DOUBLE)) / 180.0 * 2048.0) AS BIGINT) * 4096
          |    + CAST(floor((clng + 180.0 - CAST(0.02 AS DOUBLE)) / 360.0 * 4096.0) AS BIGINT) AS tcell,
          |  max(depth_max) AS depth_max, count(*) AS n_src,
          |  CAST(sum(n_points) AS BIGINT) AS n_points
          |FROM cen70 GROUP BY 1""".stripMargin)),

    // J4 distributed spatial overlay: catchment × exclusion-mask polygon
    // intersections via the co-located cover join (both sides cell-keyed —
    // the n×m polygon cross never materializes), closed-form rect∩rect areas
    Query("q68_overlay", (s, _) => {
      def el(ring: org.apache.spark.sql.Column, i: Int) = element_at(ring, i)
      val cats = Synth.catchmentCover(s).select(col("ccell"), col("hydroid"), col("ring"))
      val masks = Synth.maskCover(s)
        .select(col("ccell"), col("mask_id"), col("ring").as("mring"))
      cats.join(masks, "ccell")
        .withColumn("ilat",
          greatest(lit(0.0), least(el(col("ring"), 6), el(col("mring"), 6))
            - greatest(el(col("ring"), 2), el(col("mring"), 2))))
        .withColumn("ilng",
          greatest(lit(0.0), least(el(col("ring"), 3), el(col("mring"), 3))
            - greatest(el(col("ring"), 1), el(col("mring"), 1))))
        .filter(col("ilat") > 0.0 && col("ilng") > 0.0)
        .select(col("hydroid").cast("long").as("hydroid"), col("mask_id"),
          (col("ilat") * col("ilng")).as("inter_deg2"))
        .distinct()
    },
      withCtes(mrects,
        s"""cbx AS (
          |  SELECT hydroid,
          |    CAST(floor(hydroid / 144) AS BIGINT) * CAST(1.25 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat_min,
          |    (CAST(floor(hydroid / 144) AS BIGINT) + 1) * CAST(1.25 AS DOUBLE) - CAST(90.0 AS DOUBLE) AS lat_max,
          |    (hydroid % 144) * CAST(2.5 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lng_min,
          |    ((hydroid % 144) + 1) * CAST(2.5 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lng_max
          |  FROM $hydroids
          |)""".stripMargin)(
        """SELECT hydroid, mask_id, ilat * ilng AS inter_deg2
          |FROM (SELECT c.hydroid, m.mask_id,
          |        greatest(CAST(0.0 AS DOUBLE), least(c.lat_max, m.lat_max) - greatest(c.lat_min, m.lat_min)) AS ilat,
          |        greatest(CAST(0.0 AS DOUBLE), least(c.lng_max, m.lng_max) - greatest(c.lng_min, m.lng_min)) AS ilng
          |      FROM cbx c CROSS JOIN mrects m)
          |WHERE ilat > CAST(0.0 AS DOUBLE) AND ilng > CAST(0.0 AS DOUBLE)""".stripMargin)),

    // tile pyramid: multi-resolution rollup CHAIN (12→10→8→6) — each level
    // aggregates the one above it, not the base (the raster-pyramid trick:
    // log-levels of shrinking aggregates instead of 3 full scans)
    Query("q69_tile_pyramid", (s, dir) => {
      val mos = Inundate.run(s, dir)
        .select(col("cell"), (col("depth_max") > 0).cast("int").as("wet"))
      val l10 = mos.groupBy(Cells.cellToParentCol(col("cell"), Cells.BaseRes, 10).as("tile"))
        .agg(count(lit(1)).as("n_cells"), sum(col("wet")).as("n_wet"))
        .withColumn("res", lit(10))
      val l8 = l10.groupBy(Cells.cellToParentCol(col("tile"), 10, 8).as("tile"))
        .agg(sum(col("n_cells")).as("n_cells"), sum(col("n_wet")).as("n_wet"))
        .withColumn("res", lit(8))
      val l6 = l8.groupBy(Cells.cellToParentCol(col("tile"), 8, 6).as("tile"))
        .agg(sum(col("n_cells")).as("n_cells"), sum(col("n_wet")).as("n_wet"))
        .withColumn("res", lit(6))
      l10.unionByName(l8).unionByName(l6)
        .select(col("res"), col("tile"), col("n_cells"), col("n_wet"))
    },
      withCtes(pts, asg, ht, fc, stg, til, mos,
        """wetm AS (
          |  SELECT cell, CAST(CASE WHEN depth_max > 0.0 THEN 1 ELSE 0 END AS INT) AS wet FROM mos
          |)""".stripMargin)(
        Seq(10, 8, 6).map(res =>
          s"""SELECT $res AS res, ${parentSql("cell", Cells.BaseRes, res)} AS tile,
             |  count(*) AS n_cells, CAST(sum(wet) AS BIGINT) AS n_wet
             |FROM wetm GROUP BY 2""".stripMargin).mkString("\nUNION ALL\n"))),

    // inundation-extent dissolve: wet cells → per-extent bbox + boundary
    // count + area (mosaic_inundation.py:153-188 polygonize/dissolve analog)
    Query("q58_extent_dissolve", (s, dir) =>
      graft.pipeline.Extents.dissolve(Inundate.run(s, dir)),
      withCtes(pts, asg, ht, fc, stg, til, mos58, wet58, nbr58,
        """deg58 AS (
          |  SELECT n.cell, n.clazz, count(w.cell) AS nn
          |  FROM nbr58 n LEFT JOIN wet58 w ON n.ncell = w.cell AND n.clazz = w.clazz
          |  GROUP BY n.cell, n.clazz
          |)""".stripMargin)(
        s"""SELECT clazz AS hydroid, count(*) AS n_cells,
           |  count(CASE WHEN nn < 4 THEN 1 END) AS n_boundary,
           |  min(clat) AS lat_min, max(clat) AS lat_max, min(clng) AS lng_min, max(clng) AS lng_max,
           |  count(*) * (CAST(180.0 AS DOUBLE) / 4096.0) * (CAST(360.0 AS DOUBLE) / 8192.0) AS area_deg2
           |FROM (SELECT *, ${centroidLatSql("cell", Cells.BaseRes)} AS clat,
           |        ${centroidLngSql("cell", Cells.BaseRes)} AS clng FROM deg58)
           |GROUP BY clazz""".stripMargin)),

    // connected-component labeling of wet extents (polygonize proper):
    // per-extent union-find kernel, label = min cell id per component
    Query("q64_extent_components", (s, dir) =>
      graft.pipeline.Extents.components(Inundate.run(s, dir)),
      withRecursiveCtes(pts, asg, ht, fc, stg, til,
        mos58, wet58, nbr58,
        """reach64 AS (
          |  SELECT cell, clazz, cell AS lbl FROM wet58
          |  UNION
          |  SELECT e.cell, e.clazz, r.lbl
          |  FROM reach64 r JOIN nbr58 e ON e.ncell = r.cell AND e.clazz = r.clazz
          |)""".stripMargin,
        """comp64 AS (
          |  SELECT cell, clazz, min(lbl) AS comp FROM reach64 GROUP BY cell, clazz
          |)""".stripMargin)(
        """SELECT clazz AS hydroid, comp, count(*) AS n_cells
          |FROM comp64 GROUP BY clazz, comp""".stripMargin)),

    // A2 zonal min within lateral cost tolerance, applied back to thalweg
    // cells under an elevation-difference threshold
    // (adjust_thalweg_lateral.py:10-60): two-stage zonal min + broadcast-back
    Query("q63_thalweg_adjust", (s, dir) => {
      val pts = SpatialJoin.assign(s, Synth.points(s, dir))
        .withColumn("lat_c", Synth.latCOf(col("hydroid")))
        .withColumn("lng_c", Synth.lngCOf(col("hydroid")))
        .withColumn("cost",
          (col("lat") - col("lat_c")) * (col("lat") - col("lat_c"))
            + (col("lng") - col("lng_c")) * (col("lng") - col("lng_c")))
      val zmin = pts.filter(col("cost") <= 1.0 && col("hand") > 0.0)
        .groupBy(col("hydroid")).agg(min(col("hand")).as("zmin"))
      pts.join(broadcast(zmin), Seq("hydroid"), "left")
        .select(col("pid"), col("hydroid").cast("long").as("hydroid"), col("hand"),
          col("zmin"),
          (col("pid") % 11 === 0).cast("int").as("thalweg"),
          when(col("pid") % 11 === 0 && col("zmin").isNotNull &&
            col("zmin") < col("hand") && col("hand") - col("zmin") <= 2.0,
            col("zmin")).otherwise(col("hand")).as("hand_adj"))
    },
      withCtes(pts, asg,
        s"""zc AS (
           |  SELECT pid, hydroid, hand, lat, lng,
           |    ${latCSql("hydroid")} AS lat_c, ${lngCSql("hydroid")} AS lng_c
           |  FROM asg
           |)""".stripMargin,
        """zcost AS (
          |  SELECT *, (lat - lat_c) * (lat - lat_c) + (lng - lng_c) * (lng - lng_c) AS cost
          |  FROM zc
          |)""".stripMargin,
        """zmin AS (
          |  SELECT hydroid, min(hand) AS zmin
          |  FROM zcost WHERE cost <= CAST(1.0 AS DOUBLE) AND hand > CAST(0.0 AS DOUBLE)
          |  GROUP BY hydroid
          |)""".stripMargin)(
        """SELECT z.pid, z.hydroid, z.hand, m.zmin,
          |  CAST(CASE WHEN z.pid % 11 = 0 THEN 1 ELSE 0 END AS INT) AS thalweg,
          |  CASE WHEN z.pid % 11 = 0 AND m.zmin IS NOT NULL AND m.zmin < z.hand
          |            AND z.hand - m.zmin <= CAST(2.0 AS DOUBLE)
          |       THEN m.zmin ELSE z.hand END AS hand_adj
          |FROM zcost z LEFT JOIN zmin m ON z.hydroid = m.hydroid""".stripMargin)),

    // FR+MS composite inundation: mainstem high-flow model composited with
    // the full-resolution model by per-cell max depth
    Query("q87_composite", (s, dir) => Inundate.compositeMosaic(s, dir),
      withCtes(pts, asg, ht, fc, stg, til,
        "fcms AS (SELECT feature_id, discharge * CAST(1.5 AS DOUBLE) AS discharge FROM fc)",
        stageCte("stgms", "fcms"),
        s"""tilms AS (
           |  SELECT a.cell, $depthSql AS depth
           |  FROM asg a JOIN stgms s ON a.hydroid = s.hydroid
          |  WHERE (a.hydroid % 8) + 1 >= 5
          |)""".stripMargin,
        """uc AS (
          |  SELECT cell, depth, 0 AS ms FROM til
          |  UNION ALL
          |  SELECT cell, depth, 1 AS ms FROM tilms
          |)""".stripMargin)(
        """SELECT cell, depth_comp, depth_ms, depth_fr, n_ms,
          |  CAST(CASE WHEN depth_ms IS NOT NULL AND depth_ms > depth_fr
          |       THEN 1 ELSE 0 END AS INT) AS ms_wins
          |FROM (SELECT cell, max(depth) AS depth_comp,
          |        max(CASE WHEN ms = 1 THEN depth END) AS depth_ms,
          |        max(CASE WHEN ms = 0 THEN depth END) AS depth_fr,
          |        count(CASE WHEN ms = 1 THEN 1 END) AS n_ms
          |      FROM uc GROUP BY cell)""".stripMargin)),

    // gage snap-to-line: planar segment projection with clamp (shapely
    // project+interpolate analog, pure codegen'd scalar math)
    Query("q86_gage_snap", (s, _) =>
      StreamNet.gageSnap(StreamNet.reaches(s)),
      withCtes(net,
        reachEnds("rch", " WHERE hydroid % 199 = 0"),
        """gsn AS (
          |  SELECT hydroid, from_lat, from_lng, to_lat, to_lng,
          |    from_lat + ((hydroid * 13) % 100) / 1000.0 - CAST(0.05 AS DOUBLE) AS glat,
          |    from_lng + ((hydroid * 29) % 100) / 1000.0 - CAST(0.05 AS DOUBLE) AS glng
          |  FROM rch
          |)""".stripMargin,
        """prj AS (
          |  SELECT *, least(greatest(
          |    ((glng - from_lng) * (to_lng - from_lng) + (glat - from_lat) * (to_lat - from_lat))
          |      / ((to_lng - from_lng) * (to_lng - from_lng) + (to_lat - from_lat) * (to_lat - from_lat)),
          |    CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS t
          |  FROM gsn
          |)""".stripMargin,
        """snp AS (
          |  SELECT hydroid, glat, glng, t,
          |    from_lat + t * (to_lat - from_lat) AS snap_lat,
          |    from_lng + t * (to_lng - from_lng) AS snap_lng
          |  FROM prj
          |)""".stripMargin)(
        """SELECT hydroid, glat, glng, t, snap_lat, snap_lng,
          |  (glng - snap_lng) * (glng - snap_lng) + (glat - snap_lat) * (glat - snap_lat) AS dist2
          |FROM snp""".stripMargin)),

    // levee–levelpath association: single-sided buffers, protected-side
    // resolution, not-found double buffers, crossing-count post-filters
    Query("q90_levee_assoc", (s, _) => Levees.associate(s),
      {
        // segment∩rect: closed bbox overlap + supporting-line corner test
        def segRect(rx0: String, rx1: String, ry0: String, ry1: String): String = {
          def side(cx: String, cy: String) =
            s"((s.xt - s.xf) * (($cy) - s.yf) - (s.yt - s.yf) * (($cx) - s.xf))"
          val s1 = side(rx0, ry0); val s2 = side(rx1, ry0)
          val s3 = side(rx1, ry1); val s4 = side(rx0, ry1)
          s"""greatest(least(s.xf, s.xt), $rx0) <= least(greatest(s.xf, s.xt), $rx1)
             |   AND greatest(least(s.yf, s.yt), $ry0) <= least(greatest(s.yf, s.yt), $ry1)
             |   AND least($s1, $s2, $s3, $s4) <= 0 AND greatest($s1, $s2, $s3, $s4) >= 0""".stripMargin
        }
        withRecursiveCtes(net, closure, arboAgg, chosenCte, lpCte, reachEnds("ends", ""),
          """lv0 AS (
            |  SELECT l,
            |    ((l * 13 + 7) % 142 + 1) * CAST(1.25 AS DOUBLE) - 90.0 AS y,
            |    ((l * 29 + 3) % 138) * CAST(2.5 AS DOUBLE) - 180.0 + CAST(0.5 AS DOUBLE) AS x0,
            |    ((l * 29 + 3) % 138 + 2 + l % 3) * CAST(2.5 AS DOUBLE) - 180.0 + CAST(0.5 AS DOUBLE) AS x1,
            |    CAST(0.25 AS DOUBLE) + (l % 4) * CAST(0.125 AS DOUBLE) AS d
            |  FROM generate_series(0, 119) t(l)
            |)""".stripMargin,
          """lv AS (
            |  SELECT l, y, x0, x1, x0 + CAST(2.5 AS DOUBLE) AS a_x0,
            |    CASE WHEN l % 7 = 0 THEN y + CAST(5.0 AS DOUBLE)
            |         WHEN l % 5 = 0 THEN y - CAST(0.25 AS DOUBLE)
            |         WHEN l % 2 = 0 THEN y + CAST(0.125 AS DOUBLE)
            |         ELSE y - CAST(0.125 AS DOUBLE) - d END AS a_lat_min,
            |    CASE WHEN l % 7 = 0 THEN y + CAST(5.5 AS DOUBLE)
            |         WHEN l % 5 = 0 THEN y + d
            |         WHEN l % 2 = 0 THEN y + CAST(0.125 AS DOUBLE) + d
            |         ELSE y - CAST(0.125 AS DOUBLE) END AS a_lat_max
            |  FROM lv0
            |)""".stripMargin,
          """hits AS (
            |  SELECT DISTINCT b.l
            |  FROM lv b JOIN lv a ON least(b.x1, a.x1) - greatest(b.x0, a.a_x0) > 0
            |   AND (least(b.y + CAST(0.5 AS DOUBLE), a.a_lat_max) - greatest(b.y, a.a_lat_min) > 0
            |     OR least(b.y, a.a_lat_max) - greatest(b.y - CAST(0.5 AS DOUBLE), a.a_lat_min) > 0)
            |)""".stripMargin,
          """sidesq AS (
            |  SELECT l,
            |    greatest(CAST(0.0 AS DOUBLE), least(x1, x1) - greatest(x0, a_x0))
            |      * greatest(CAST(0.0 AS DOUBLE),
            |        least(y + CAST(0.5 AS DOUBLE), a_lat_max) - greatest(y, a_lat_min)) AS left_area,
            |    greatest(CAST(0.0 AS DOUBLE), least(x1, x1) - greatest(x0, a_x0))
            |      * greatest(CAST(0.0 AS DOUBLE),
            |        least(y, a_lat_max) - greatest(y - CAST(0.5 AS DOUBLE), a_lat_min)) AS right_area
            |  FROM lv
            |)""".stripMargin,
          """sides AS (
            |  SELECT l, CASE WHEN left_area < right_area THEN 'left' ELSE 'right' END AS levee_side
            |  FROM sidesq WHERE left_area > 0 OR right_area > 0
            |)""".stripMargin,
          """seg AS (
            |  SELECT l.branch AS levelpath_id, n.hydroid,
            |    e.from_lng AS xf, e.from_lat AS yf, e.to_lng AS xt, e.to_lat AS yt
            |  FROM net n JOIN lp l ON n.hydroid = l.hydroid JOIN ends e ON n.hydroid = e.hydroid
            |)""".stripMargin,
          s"""arects AS (
             |  SELECT v.l, v.x0, v.x1, v.y AS ry0, v.y + CAST(0.5 AS DOUBLE) AS ry1
             |  FROM lv v JOIN sides sd ON v.l = sd.l AND sd.levee_side = 'left'
             |  UNION ALL
             |  SELECT v.l, v.x0, v.x1, v.y - CAST(0.5 AS DOUBLE) AS ry0, v.y AS ry1
             |  FROM lv v JOIN sides sd ON v.l = sd.l AND sd.levee_side = 'right'
             |  UNION ALL
             |  SELECT v.l, v.x0, v.x1, v.y - CAST(1.0 AS DOUBLE) AS ry0, v.y + CAST(1.0 AS DOUBLE) AS ry1
             |  FROM lv v WHERE v.l NOT IN (SELECT l FROM hits)
             |)""".stripMargin,
          s"""pairs AS (
             |  SELECT DISTINCT r.l AS levee_id, s.levelpath_id
             |  FROM arects r JOIN seg s
             |    ON ${segRect("r.x0", "r.x1", "r.ry0", "r.ry1")}
             |)""".stripMargin,
          """crs AS (
            |  SELECT v.l AS levee_id, s.levelpath_id, count(*) AS n_crossings
            |  FROM seg s JOIN lv v ON (s.yf - v.y) * (s.yt - v.y) < 0
            |    AND s.xf + (v.y - s.yf) * (s.xt - s.xf) / (s.yt - s.yf) >= v.x0
            |    AND s.xf + (v.y - s.yf) * (s.xt - s.xf) / (s.yt - s.yf) <= v.x1
            |  GROUP BY v.l, s.levelpath_id
            |)""".stripMargin,
          s"""tch AS (
             |  SELECT DISTINCT v.l AS levee_id, s.levelpath_id
             |  FROM lv v JOIN seg s
             |    ON ${segRect("v.a_x0", "v.x1", "v.a_lat_min", "v.a_lat_max")}
             |)""".stripMargin)(
          """SELECT p.levee_id, p.levelpath_id,
            |  coalesce(sd.levee_side, 'none') AS levee_side,
            |  coalesce(c.n_crossings, 0) AS n_crossings
            |FROM pairs p
            |LEFT JOIN crs c ON c.levee_id = p.levee_id AND c.levelpath_id = p.levelpath_id
            |LEFT JOIN tch t ON t.levee_id = p.levee_id AND t.levelpath_id = p.levelpath_id
            |LEFT JOIN sides sd ON sd.l = p.levee_id
            |WHERE coalesce(c.n_crossings, 0) <> 1
            |  AND NOT (coalesce(c.n_crossings, 0) = 0 AND t.levee_id IS NOT NULL)""".stripMargin)
      }),

    // bridge healing + flows: per-bridge-buffer zonal max HAND pushed
    // through the rating curve (both thresholds), ft/cfs conversions
    Query("q91_bridge_flows", (s, dir) =>
      Bridges.bridgeFlows(s, Synth.points(s, dir)),
      {
        def dischargeAt(t: String): String = interpSql(s"t.$t", "h.stage", "h.discharge_cms")
        withCtes(pts, ht,
          s"""brg AS (
             |  SELECT hydroid AS bridge_id,
             |    ${latCSql("hydroid")} + ((hydroid * 17) % 100) / 1000.0 - CAST(0.05 AS DOUBLE) AS blat,
             |    ${lngCSql("hydroid")} + ((hydroid * 23) % 100) / 1000.0 - CAST(0.05 AS DOUBLE) AS blng
             |  FROM $hydroids
             |  WHERE hydroid % 151 = 0
             |)""".stripMargin,
          """thr AS (
            |  SELECT b.bridge_id, max(p.hand) AS threshold_hand, count(*) AS n_pts
            |  FROM pts p JOIN brg b
            |    ON p.lat >= b.blat - CAST(1.5 AS DOUBLE) AND p.lat < b.blat + CAST(1.5 AS DOUBLE)
            |   AND p.lng >= b.blng - CAST(1.5 AS DOUBLE) AND p.lng < b.blng + CAST(1.5 AS DOUBLE)
            |  GROUP BY b.bridge_id
            |)""".stripMargin,
          """thr2 AS (
            |  SELECT *, threshold_hand * CAST(0.75 AS DOUBLE) AS threshold_hand_75 FROM thr
            |)""".stripMargin,
          s"""bfl AS (
             |  SELECT t.bridge_id,
             |    max(t.threshold_hand) AS threshold_hand,
             |    max(t.threshold_hand_75) AS threshold_hand_75,
             |    max(t.n_pts) AS n_pts,
             |    ${dischargeAt("threshold_hand")} AS threshold_discharge,
             |    ${dischargeAt("threshold_hand_75")} AS threshold_discharge75
             |  FROM ht h JOIN thr2 t ON h.hydroid = t.bridge_id
             |  GROUP BY t.bridge_id
             |)""".stripMargin)(
          """SELECT bridge_id, threshold_hand, threshold_hand_75, n_pts,
            |  threshold_discharge, threshold_discharge75,
            |  threshold_hand * CAST(3.28084 AS DOUBLE) AS threshold_hand_ft,
            |  threshold_hand_75 * CAST(3.28084 AS DOUBLE) AS threshold_hand_75_ft,
            |  threshold_discharge * CAST(35.3147 AS DOUBLE) AS threshold_discharge_cfs,
            |  threshold_discharge75 * CAST(35.3147 AS DOUBLE) AS threshold_discharge_75_cfs
            |FROM bfl""".stripMargin)
      }),

    // branch-outlet backpool mitigation: outlier-sized outlet catchments
    // flagged (exact integer mean/std), flowline trimmed, slope reclamped
    Query("q99_backpool", (s, dir) => NetworkEval.backpool(s, Synth.points(s, dir)),
      withCtes(pts, asg, net,
        s"""cnt99 AS (
           |  SELECT hydroid, $huc8FromHydroid AS huc8, count(*) AS n_pts
           |  FROM asg GROUP BY hydroid
           |)""".stripMargin,
        """st99 AS (
          |  SELECT huc8, count(*) AS n_cat, sum(n_pts) AS sum_n,
          |    sum(n_pts * n_pts) AS sum_sq
          |  FROM cnt99 GROUP BY huc8
          |)""".stripMargin,
        """sd99 AS (
          |  SELECT huc8,
          |    CAST(sum_n AS DOUBLE) / CAST(n_cat AS DOUBLE) AS mean_pts,
          |    CASE WHEN n_cat > 1
          |         THEN sqrt(CAST(n_cat * sum_sq - sum_n * sum_n AS DOUBLE)
          |                   / CAST(n_cat * (n_cat - 1) AS DOUBLE)) END AS std_pts
          |  FROM st99
          |)""".stripMargin,
        """ot99 AS (
          |  SELECT n.hydroid, n.huc8, n.length_km,
          |    CAST(0.001 AS DOUBLE) + (n.hydroid % 11) * CAST(0.0005 AS DOUBLE) AS slope,
          |    c.n_pts, s.mean_pts, s.std_pts,
          |    CASE WHEN abs(CAST(c.n_pts AS DOUBLE) - s.mean_pts) > s.std_pts
          |         THEN 1 ELSE 0 END AS flagged
          |  FROM net n
          |    JOIN cnt99 c ON c.hydroid = n.hydroid AND c.huc8 = n.huc8
          |    JOIN sd99 s ON s.huc8 = n.huc8
          |  WHERE n.to_node = -1
          |)""".stripMargin)(
        """SELECT hydroid, huc8, n_pts, mean_pts, std_pts, flagged, length_km,
          |  CASE WHEN flagged = 1 THEN length_km * CAST(0.75 AS DOUBLE)
          |       ELSE length_km END AS trimmed_length_km,
          |  slope,
          |  CASE WHEN flagged = 1
          |       THEN greatest(slope * length_km / (length_km * CAST(0.75 AS DOUBLE)),
          |                     CAST(0.002 AS DOUBLE))
          |       ELSE slope END AS slope_adj
          |FROM ot99""".stripMargin)),

    // AGREE DEM stream burn: distance transform + nearest-value allocation
    // as block-halo equi-joins, smooth/sharp drop composition
    Query("q100_agree_burn", (s, _) => Terrain.agreeBurn(s),
      {
        withCtes(
          demCte("g100", Seq(riverCol)),
          s"vnn AS (${nnSql("g100", "g100", "v.river = 1")})",
          s"""vd AS (
             |  SELECT g.*, v.packed // 1048576 AS vd2, v.packed % 1048576 AS vgid,
             |    sqrt(CAST(v.packed // 1048576 AS DOUBLE)) AS vectdist,
             |    ${gidElevSql("(v.packed % 1048576)")} - CAST(10.0 AS DOUBLE) AS vectallo,
             |    CASE WHEN CAST(v.packed // 1048576 AS DOUBLE) > CAST(10.5625 AS DOUBLE)
             |         THEN 1 ELSE 0 END AS outside
             |  FROM g100 g JOIN vnn v ON g.gid = v.gid
             |)""".stripMargin,
          s"bnn AS (${nnSql("(SELECT * FROM vd WHERE outside = 0)",
          "(SELECT * FROM vd WHERE outside = 1)", "1 = 1")})",
          s"""bb AS (
             |  SELECT t.*,
             |    CASE WHEN t.outside = 1 THEN 0 ELSE b.packed // 1048576 END AS bd2,
             |    CASE WHEN t.outside = 1 THEN t.gid ELSE b.packed % 1048576 END AS bgid
             |  FROM vd t LEFT JOIN bnn b ON t.gid = b.gid
             |)""".stripMargin,
          s"""f100 AS (
             |  SELECT *, sqrt(CAST(bd2 AS DOUBLE)) AS bufdist,
             |    ${gidElevSql("bgid")} AS bufallo
             |  FROM bb
             |)""".stripMargin)(
          """SELECT gid, CAST(river AS INT) AS river, elev, vd2, vgid, vectallo,
            |  bd2, bgid, bufallo,
            |  vectallo + (bufallo - vectallo) / (bufdist + vectdist) * vectdist AS smoelev,
            |  CASE WHEN river = 1
            |       THEN vectallo + (bufallo - vectallo) / (bufdist + vectdist) * vectdist
            |            - CAST(1000.0 AS DOUBLE)
            |       WHEN outside = 1 THEN elev
            |       ELSE vectallo + (bufallo - vectallo) / (bufdist + vectdist) * vectdist
            |  END AS agree_elev
            |FROM f100""".stripMargin)
      }),

    // headwater flow accumulation + stream-pixel threshold (accuflux
    // direction=up) over the MERGE-forming net (the plain reach net's
    // downstream map is a permutation — accumulation would stay at 1)
    Query("q101_accuflux", (s, _) =>
      Terrain.accuflux(s, NetworkEval.confluenceNet(s))
        .select(col("huc8"), col("hydroid").cast("long").as("hydroid"),
          col("flowaccum"), col("stream_pixel")),
      withRecursiveCtes(
        net98,
        """hw AS (
          |  SELECT hydroid FROM net98 n
          |  WHERE hydroid % 13 = 2
          |    AND NOT EXISTS (SELECT 1 FROM net98 u WHERE u.to_node = n.hydroid)
          |)""".stripMargin,
        """walk AS (
          |  SELECT hydroid AS node FROM hw
          |  UNION ALL
          |  SELECT n.to_node AS node FROM walk w JOIN net98 n ON w.node = n.hydroid
          |  WHERE n.to_node >= 0
          |)""".stripMargin,
        "acc AS (SELECT node, count(*) AS flowaccum FROM walk GROUP BY node)")(
        """SELECT n.huc8, n.hydroid, coalesce(a.flowaccum, 0) AS flowaccum,
          |  CAST(CASE WHEN coalesce(a.flowaccum, 0) > 0 THEN 25 ELSE 0 END AS INT)
          |    AS stream_pixel
          |FROM net98 n LEFT JOIN acc a ON n.hydroid = a.node""".stripMargin)),

    // REM/HAND detrend: per-catchment thalweg-min elevation applied back
    // to every cell, nodata where the catchment has no thalweg pixel
    Query("q102_rem", (s, dir) =>
      Terrain.rem(SpatialJoin.assign(s, Synth.points(s, dir))),
      withCtes(pts, asg, remCte)("SELECT pid, hydroid, hand AS dem, rem FROM rem")),

    // water-surface fillnodata: exact integer-weighted IDW within radius 4,
    // depth = interpolated WSE - DEM, nodata past max search distance
    Query("q108_interp_wse", (s, _) => Terrain.interpolateWse(s),
      withCtes(
        demCte("g108", Seq(
          "CASE WHEN (r.x * 7 + c.x * 3) % 5 <> 0 THEN 1 ELSE 0 END AS valid",
          s"${elevSql("r.x", "c.x")} + ((r.x * 5 + c.x * 11) % 8) / CAST(4.0 AS DOUBLE) AS wse")),
        """pr8 AS (
          |  SELECT g.gid,
          |    CAST((v.r - g.r) * (v.r - g.r) + (v.c - g.c) * (v.c - g.c) AS BIGINT) AS d2,
          |    CAST(v.wse * 4 AS BIGINT) AS vq
          |  FROM g108 g JOIN g108 v ON g.valid = 0 AND v.valid = 1
          |    AND v.r BETWEEN g.r - 4 AND g.r + 4
          |    AND v.c BETWEEN g.c - 4 AND g.c + 4
          |)""".stripMargin,
        """ag8 AS (
          |  SELECT gid,
          |    CAST(sum(CAST(floor(CAST(1048576.0 AS DOUBLE) / CAST(d2 AS DOUBLE)) AS BIGINT) * vq) AS BIGINT) AS num,
          |    CAST(sum(CAST(floor(CAST(1048576.0 AS DOUBLE) / CAST(d2 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS den
          |  FROM pr8 GROUP BY gid
          |)""".stripMargin)(
        """SELECT g.gid, CAST(g.valid AS INT) AS valid,
          |  CASE WHEN g.valid = 1 THEN g.wse
          |       WHEN a.den IS NOT NULL
          |       THEN CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) / CAST(4.0 AS DOUBLE)
          |       ELSE CAST(-9999.0 AS DOUBLE) END AS wse_filled,
          |  CASE WHEN g.valid = 0 AND a.den IS NULL THEN CAST(-9999.0 AS DOUBLE)
          |       ELSE (CASE WHEN g.valid = 1 THEN g.wse
          |             ELSE CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) / CAST(4.0 AS DOUBLE) END)
          |            - g.elev END AS depth
          |FROM g108 g LEFT JOIN ag8 a ON g.gid = a.gid""".stripMargin)),

    // levee burn-in: NLD crest grid maximum-composited into the DEM
    Query("q111_levee_burn", (s, _) => Terrain.burnInLevees(s),
      withCtes(
        demCte("g111"),
        """n111 AS (
          |  SELECT gid, elev,
          |    CASE WHEN r % 24 = 6
          |      THEN elev + ((r * 3 + c * 7) % 20) / CAST(4.0 AS DOUBLE) + CAST(2.0 AS DOUBLE)
          |      ELSE CAST(-9999.0 AS DOUBLE) END AS nld
          |  FROM g111
          |)""".stripMargin)(
        "SELECT gid, elev, nld, greatest(elev, nld) AS burned_elev FROM n111")),

    // AGREE over a holey DEM: the agreedem.py:230-238 allocation fallbacks
    // (vectallo -> own elev - drop, bufallo -> own elev), exercised by a
    // river-line gap and rim-blocking flank holes
    Query("q115_agree_nodata", (s, _) => Terrain.agreeBurnWithHoles(s),
      {
        withCtes(
          demCte("g115", Seq(riverCol),
            """NOT ((r.x BETWEEN 106 AND 118
              |              AND (c.x BETWEEN 44 AND 49 OR c.x BETWEEN 57 AND 62))
              |             OR (r.x BETWEEN 25 AND 47 AND c.x = 17))""".stripMargin),
          s"vnn115 AS (${nnSql("g115", "g115", "v.river = 1")})",
          s"""vd115 AS (
             |  SELECT g.*,
             |    CASE WHEN v.gid IS NULL THEN 1 ELSE 0 END AS vfb,
             |    v.packed // 1048576 AS vd2, v.packed % 1048576 AS vgid,
             |    sqrt(CAST(v.packed // 1048576 AS DOUBLE)) AS vectdist,
             |    CASE WHEN v.gid IS NULL THEN g.elev - CAST(10.0 AS DOUBLE)
             |         ELSE ${gidElevSql("(v.packed % 1048576)")} - CAST(10.0 AS DOUBLE) END AS vectallo,
             |    CASE WHEN v.gid IS NULL
             |           OR CAST(v.packed // 1048576 AS DOUBLE) > CAST(10.5625 AS DOUBLE)
             |         THEN 1 ELSE 0 END AS outside
             |  FROM g115 g LEFT JOIN vnn115 v ON g.gid = v.gid
             |)""".stripMargin,
          s"bnn115 AS (${nnSql("(SELECT * FROM vd115 WHERE outside = 0)",
          "(SELECT * FROM vd115 WHERE outside = 1)", "1 = 1")})",
          s"""bb115 AS (
             |  SELECT t.*,
             |    CASE WHEN t.outside = 0 AND b.gid IS NULL THEN 1 ELSE 0 END AS bfb,
             |    CASE WHEN t.outside = 1 OR b.gid IS NULL THEN 0
             |         ELSE b.packed // 1048576 END AS bd2,
             |    CASE WHEN b.gid IS NULL THEN t.gid ELSE b.packed % 1048576 END AS bgid
             |  FROM vd115 t LEFT JOIN bnn115 b ON t.gid = b.gid
             |)""".stripMargin,
          s"""f115 AS (
             |  SELECT *, sqrt(CAST(bd2 AS DOUBLE)) AS bufdist,
             |    ${gidElevSql("bgid")} AS bufallo
             |  FROM bb115
             |)""".stripMargin,
          """s115 AS (
            |  SELECT *,
            |    CASE WHEN bufdist + vectdist = CAST(0.0 AS DOUBLE) THEN vectallo
            |         ELSE vectallo + (bufallo - vectallo) / (bufdist + vectdist) * vectdist
            |    END AS smoelev
            |  FROM f115
            |)""".stripMargin)(
          """SELECT gid, CAST(river AS INT) AS river, elev, CAST(vfb AS INT) AS vfb,
            |  vd2, vgid, vectallo, CAST(bfb AS INT) AS bfb, bd2, bgid, bufallo,
            |  smoelev,
            |  CASE WHEN river = 1 THEN smoelev - CAST(1000.0 AS DOUBLE)
            |       WHEN outside = 1 THEN elev
            |       ELSE smoelev END AS agree_elev
            |FROM s115""".stripMargin)
      }),

    // §2.10 #4 promoted to an oracle row: the typed-Aggregator interp UDAF
    // and the relational bracketing aggregation run side by side per
    // catchment — the oracle emits ONE formula for both columns, so any
    // divergence between the two implementations hash-fails
    Query("q117_interp_udaf", (s, _) =>
      Synth.hydrotable(s).filter(col("lake_id") === -999)
        .join(broadcast(Synth.forecast(s)), "feature_id")
        .groupBy(col("hydroid"))
        .agg(RatingInterp.stageExpr.as("stage_m"),
          RatingInterp.interpUdaf.as("stage_udaf")),
      withCtes(ht, fc, stg)(
        "SELECT hydroid, stage_m, stage_m AS stage_udaf FROM stg")))
}
