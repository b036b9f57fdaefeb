package graft

import graft.geo.Cells

/** DuckDB oracle SQL — textual mirrors of the engine's arithmetic. Every
  * formula here is kept in exact correspondence with the Column expressions
  * in graft.synth.Synth / graft.ops.* : only IEEE-754 +,-,*,/ on doubles,
  * exact BIGINT arithmetic, floor, and order-insensitive aggregates
  * (min/max/count/sum-of-int), so Spark and DuckDB produce bit-identical
  * values.
  *
  * Each closed form that more than one query needs is declared once here,
  * as a `val` CTE or a small `def` over column names, and every query calls
  * it; each has one engine twin:
  *  - the catchment grid ([[hydroids]], [[hydroidOfSql]], [[latCSql]] /
  *    [[lngCSql]], [[huc8FromHydroid]]) — [[graft.synth.Synth]]'s
  *    `catchmentList`, `hydroidOf` and `huc8Of`;
  *  - the cell codec ([[cellSql]] and the forms built on it: [[cellOfSql]],
  *    [[rowSql]] / [[colSql]], [[centroidLatSql]] / [[centroidLngSql]],
  *    [[parentSql]], [[neighboursCte]]) — [[graft.geo.Cells]];
  *  - the terrain DEM ([[elevSql]], [[demCte]]) — [[graft.ops.Terrain]]'s
  *    `grid`;
  *  - the reach networks ([[net]], [[net98]]) — `StreamNet.reaches` and
  *    `NetworkEval.confluenceNet`;
  *  - the np.interp bracket ([[interpSql]], [[stageInterp]]) —
  *    [[graft.ops.RatingInterp.stageExpr]];
  *  - the rating curves ([[knots]], [[srcDischarge]]) — `Synth.stageOf` /
  *    `Synth.dischargeOf`;
  *  - the exact Jaccard verify ([[dsh]], [[shSz]], [[interOf]], [[jacOf]]) —
  *    `TextOps.pairIntersect`.
  */
object OracleSql {

  // ---- catchment grid: 144 × 144 catchments of 1.25° × 2.5° ----

  /** Every catchment id (hydroid = row * 144 + col) as a derived table. */
  val hydroids: String =
    "(SELECT a.x * 144 + b.x AS hydroid FROM generate_series(0, 143) a(x), generate_series(0, 143) b(x))"

  /** The catchment holding (lat, lng) — the closed form of the engine's
    * ray-cast PIP against the grid polygons ([[graft.synth.Synth.hydroidOf]]). */
  def hydroidOfSql(lat: String, lng: String): String =
    s"CAST(floor(($lat + 90.0) / 1.25) AS BIGINT) * 144 + CAST(floor(($lng + 180.0) / 2.5) AS BIGINT)"

  /** Centroid latitude / longitude of catchment `h` (`Synth.catchmentList`'s
    * `lat_c` / `lng_c`). */
  def latCSql(h: String): String =
    s"(CAST(floor($h / 144) AS BIGINT) + CAST(0.5 AS DOUBLE)) * CAST(1.25 AS DOUBLE) - CAST(90.0 AS DOUBLE)"
  def lngCSql(h: String): String =
    s"(($h % 144) + CAST(0.5 AS DOUBLE)) * CAST(2.5 AS DOUBLE) - CAST(180.0 AS DOUBLE)"

  /** HUC8 code of `hydroid` (8 × 8 catchments per HUC, 18 HUC columns). */
  val huc8FromHydroid: String =
    "lpad(CAST(CAST(floor(floor(hydroid / 144) / 8) * 18 + floor((hydroid % 144) / 8) AS BIGINT) AS VARCHAR), 8, '0')"

  // ---- cell codec: cell = res << 56 | row << 28 | col ([[graft.geo.Cells]]) ----

  /** Cell id of resolution `res` at (`row`, `col`) in exact BIGINT
    * arithmetic — twin of [[graft.geo.Cells.encode]] / `encodeCol`. */
  def cellSql(res: Int, row: String, col: String): String =
    s"$res * 72057594037927936 + ($row) * 268435456 + ($col)"

  /** Row / column of a cell id — twins of `Cells.rowOf` / `colOf`. */
  def rowSql(cell: String): String = s"(($cell // 268435456) % 268435456)"
  def colSql(cell: String): String = s"($cell % 268435456)"

  /** Cell of resolution `res` holding (lat, lng) — twin of `Cells.rowCol` +
    * `latLngToCellCol`. */
  def cellOfSql(lat: String, lng: String, res: Int): String =
    cellSql(res, s"CAST(floor(($lat + 90.0) / 180.0 * ${Cells.rows(res).toDouble}) AS BIGINT)",
      s"CAST(floor(($lng + 180.0) / 360.0 * ${Cells.cols(res).toDouble}) AS BIGINT)")

  /** Centroid latitude / longitude of a resolution-`res` cell — twins of
    * `Cells.centroidLatCol` / `centroidLngCol`. */
  def centroidLatSql(cell: String, res: Int): String =
    s"(${rowSql(cell)} + CAST(0.5 AS DOUBLE)) / ${Cells.rows(res).toDouble} * 180.0 - 90.0"
  def centroidLngSql(cell: String, res: Int): String =
    s"(${colSql(cell)} + CAST(0.5 AS DOUBLE)) / ${Cells.cols(res).toDouble} * 360.0 - 180.0"

  /** Parent of a resolution-`childRes` cell — twin of `Cells.cellToParentCol`. */
  def parentSql(cell: String, childRes: Int, parentRes: Int): String = {
    val shift = childRes - parentRes
    cellSql(parentRes, s"${rowSql(cell)} >> $shift", s"${colSql(cell)} >> $shift")
  }

  /** `<name>(<keys>, ncell)`: every row of `from` once per 4-neighbour id
    * of its [[Cells.BaseRes]] `cell` — twin of `Cells.neighbourCols`. */
  def neighboursCte(name: String, keys: String, from: String): String =
    s"""$name AS (
       |  SELECT $keys,
       |    ${cellSql(Cells.BaseRes, s"${rowSql("cell")} + dr", s"${colSql("cell")} + dc")} AS ncell
       |  FROM $from CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dr, dc)
       |)""".stripMargin

  // ---- flood map: points → catchments → stages → tiles → mosaic ----

  /** Geocode of point `pid` — twins of `Synth.latCol` / `Synth.lngCol`. */
  def latSql(pid: String): String =
    s"""CASE WHEN $pid % 5 = 0 THEN 40.0 + (($pid * 131 + 17) % 2000) / 1000.0
       |         ELSE (($pid * 48271 + 11) % 160000) / 1000.0 - 80.0 END""".stripMargin
  def lngSql(pid: String): String =
    s"""CASE WHEN $pid % 5 = 0 THEN -74.0 + (($pid * 137 + 29) % 2000) / 1000.0
       |         ELSE (($pid * 69621 + 7) % 360000) / 1000.0 - 180.0 END""".stripMargin

  /** Geocoded points from lineitem (pid = l_orderkey*8 + l_linenumber). */
  val pts: String =
    s"""pts AS (
       |  SELECT pid,
       |    ${latSql("pid")} AS lat,
       |    ${lngSql("pid")} AS lng,
       |    ((pid * 97 + 13) % 5000) / 1000.0 AS hand
       |  FROM (SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS pid FROM lineitem)
       |)""".stripMargin

  /** Catchment assignment and base-resolution cell of every point. */
  val asg: String =
    s"""asg AS (
       |  SELECT pid, lat, lng, hand,
       |    ${hydroidOfSql("lat", "lng")} AS hydroid,
       |    ${cellOfSql("lat", "lng", Cells.BaseRes)} AS cell
       |  FROM pts
       |)""".stripMargin

  /** The 84-knot stage ladder of every catchment, (hydroid, i, stage) —
    * `Synth.stageOf` per knot. */
  val knots: String =
    s"(SELECT h.hydroid, s.i, s.i * CAST(0.3048 AS DOUBLE) AS stage FROM $hydroids h, generate_series(0, 83) s(i))"

  /** The synthetic rating curve's discharge at `stage` — `Synth.dischargeOf`. */
  val srcDischarge: String =
    """(hydroid % 7 + 1) * stage
      |      + ((hydroid % 5) * CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE)) * stage * stage""".stripMargin

  /** Synthetic hydrotable: 84 knots × 20736 catchments. */
  val ht: String =
    s"""ht AS (
       |  SELECT hydroid, 1000000 + hydroid AS feature_id, stage,
       |    $srcDischarge AS discharge_cms
       |  FROM $knots
       |)""".stripMargin

  val fc: String =
    """fc AS (
      |  SELECT 1000000 + x AS feature_id,
      |    (((1000000 + x) * 53 + 7) % 9000) / 10.0 AS discharge
      |  FROM generate_series(0, 20735) t(x)
      |)""".stripMargin

  /** np.interp(x; xp, fp) as conditional aggregation over one group's knots
    * (xp strictly rising): clamp below, clamp above, else the bracketing
    * segment — [[graft.ops.RatingInterp.stageExpr]]'s expression tree. */
  def interpSql(x: String, xp: String, fp: String): String = {
    def lo(v: String) = s"max(CASE WHEN $xp <= $x THEN $v END)"
    def hi(v: String) = s"min(CASE WHEN $xp > $x THEN $v END)"
    s"""CASE WHEN ${lo(fp)} IS NULL THEN min($fp)
       |         WHEN ${hi(fp)} IS NULL THEN max($fp)
       |         ELSE ${lo(fp)}
       |            + (max($x) - ${lo(xp)})
       |            * (${hi(fp)}
       |               - ${lo(fp)})
       |            / (${hi(xp)}
       |               - ${lo(xp)})
       |    END""".stripMargin
  }

  /** Stage at the forecast discharge over rows (stage, discharge_cms, discharge). */
  val stageInterp: String = interpSql("discharge", "discharge_cms", "stage")

  /** Per-catchment stage at forecast table `forecast`'s discharge (lake rows
    * filtered: hydroid % 97 = 0 ⇔ LakeID ≠ -999). */
  def stageCte(name: String, forecast: String): String =
    s"""$name AS (
       |  SELECT hydroid, $stageInterp AS stage_m
       |  FROM (SELECT ht.hydroid, ht.stage, ht.discharge_cms, f.discharge
       |        FROM ht JOIN $forecast f ON ht.feature_id = f.feature_id
       |        WHERE ht.hydroid % 97 <> 0)
       |  GROUP BY hydroid
       |)""".stripMargin

  val stg: String = stageCte("stg", "fc")

  /** Depth of point `a` under stage row `s`. */
  val depthSql: String = "CASE WHEN s.stage_m - a.hand > 0.0 THEN s.stage_m - a.hand ELSE 0.0 END"

  /** Per-point tile: depth/class kernel. */
  val til: String =
    s"""til AS (
       |  SELECT a.pid, a.cell, a.hydroid, a.hand, s.stage_m, $depthSql AS depth
       |  FROM asg a JOIN stg s ON a.hydroid = s.hydroid
       |)""".stripMargin

  val mos: String = "mos AS (SELECT cell, max(depth) AS depth_max FROM til GROUP BY cell)"

  /** The mosaic's cells with their centroids, as a derived table. */
  val mosCentroids: String =
    s"""(SELECT cell, depth_max,
       |          ${centroidLatSql("cell", Cells.BaseRes)} AS clat,
       |          ${centroidLngSql("cell", Cells.BaseRes)} AS clng
       |        FROM mos)""".stripMargin

  /** Exclusion mask rectangles — mirror of [[graft.synth.Synth.maskList]]. */
  val mrects: String =
    """mrects AS (
      |  SELECT k AS mask_id,
      |         ((k * 37 + 5) % 150) - CAST(85.0 AS DOUBLE) AS lat_min,
      |         (((k * 37 + 5) % 150) - CAST(85.0 AS DOUBLE)) + (3 + k % 4) AS lat_max,
      |         ((k * 73 + 11) % 330) - CAST(175.0 AS DOUBLE) AS lng_min,
      |         (((k * 73 + 11) % 330) - CAST(175.0 AS DOUBLE)) + (4 + k % 5) AS lng_max
      |  FROM generate_series(0, 39) t(k)
      |)""".stripMargin

  /** The cell centroid (clat, clng) lies inside an exclusion mask. */
  val maskedSql: String =
    """EXISTS (SELECT 1 FROM mrects m
      |           WHERE clat >= m.lat_min AND clat < m.lat_max
      |             AND clng >= m.lng_min AND clng < m.lng_max)""".stripMargin

  /** Benchmark wet flag of `cell` (0/1) — `Agreement.benchWet`. */
  val benchWetSql: String =
    s"CASE WHEN (${rowSql("cell")} * 31 + ${colSql("cell")} * 17) % 10 < 4 THEN 1 ELSE 0 END"

  /** Agreement class per cell: 0 TN / 1 FN / 2 FP / 3 TP / 4 masked
    * (`tools_shared_functions.py:400-406`); benchmark extent is a row/col
    * hash; the exclusion mask is the REAL polygon test — centroid inside any
    * mrects rectangle (closed form of the engine's mask-index lookup). */
  val agr: String =
    s"""agr AS (
       |  SELECT cell,
       |    CAST(CASE WHEN $maskedSql THEN 4
       |         ELSE (CASE WHEN depth_max > 0.0 THEN 1 ELSE 0 END) * 2 + $benchWetSql
       |    END AS INT) AS agreement
       |  FROM $mosCentroids
       |)""".stripMargin

  // ---- web-text corpus + dedup family ----

  /** documents + exact clones (every 40th) + truncated near-clones (every 50th). */
  val corpus: String =
    """corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 2000000 AS BIGINT) AS doc_id, text, lang
      |  FROM documents WHERE doc_id % 40 = 0
      |  UNION ALL
      |  SELECT CAST(doc_id + 1000000 AS BIGINT) AS doc_id,
      |    substring(text, 1, CAST(length(text) - 10 AS INT)) AS text, lang
      |  FROM documents WHERE doc_id % 50 = 0
      |)""".stripMargin

  /** char 8-grams of the first 512 chars (uncorrelated series + bound filter
    * because this DuckDB build lacks lateral generate_series). */
  val sh: String =
    """sh AS (
      |  SELECT c.doc_id, substring(c.text, g.i, 8) AS sh
      |  FROM corpus c CROSS JOIN generate_series(1, 505) g(i)
      |  WHERE g.i <= least(length(c.text), 512) - 7
      |)""".stripMargin

  val mh: String =
    """mh AS (
      |  SELECT doc_id, s.seed,
      |    min((hb * (s.seed * 4099 + 17) + (s.seed * 7907 + 31)) % 1000000007) AS minh
      |  FROM (SELECT doc_id,
      |          CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) % 1000000007 AS hb
      |        FROM sh)
      |       CROSS JOIN generate_series(0, 15) s(seed)
      |  GROUP BY doc_id, s.seed
      |)""".stripMargin

  val bnd: String =
    """bnd AS (
      |  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
      |    min(CASE WHEN seed % 4 = 0 THEN minh END) AS k0,
      |    min(CASE WHEN seed % 4 = 1 THEN minh END) AS k1,
      |    min(CASE WHEN seed % 4 = 2 THEN minh END) AS k2,
      |    min(CASE WHEN seed % 4 = 3 THEN minh END) AS k3
      |  FROM mh GROUP BY doc_id, CAST(floor(seed / 4) AS INT)
      |)""".stripMargin

  val prs: String =
    """prs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
      |    AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.doc_id < b.doc_id
      |)""".stripMargin

  // ---- exact Jaccard verify over candidate pairs: distinct shingle-hash
  // table → per-pair intersection → Jaccard (the oracle of
  // `TextOps.pairIntersect`) ----

  val dsh: String =
    """dsh AS (SELECT DISTINCT doc_id,
      |  CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS hb FROM sh)""".stripMargin

  val shSz: String = "sz AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY doc_id)"

  /** `<name>`: shared distinct shingle hashes per pair of table `pairs`. */
  def interOf(name: String, pairs: String): String =
    s"""$name AS (
       |  SELECT p2.doc_a, p2.doc_b, count(*) AS i
       |  FROM $pairs p2 JOIN dsh a ON p2.doc_a = a.doc_id
       |  JOIN dsh b ON p2.doc_b = b.doc_id AND a.hb = b.hb
       |  GROUP BY p2.doc_a, p2.doc_b
       |)""".stripMargin

  /** `<name>`: exact Jaccard of every pair of table `pairs`, from the
    * intersections `inter` and the sizes [[shSz]]. */
  def jacOf(name: String, pairs: String, inter: String): String =
    s"""$name AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(coalesce(i.i, 0) AS DOUBLE) / CAST(sa.sz + sb.sz - coalesce(i.i, 0) AS DOUBLE) AS jaccard
       |  FROM $pairs p
       |  LEFT JOIN $inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  JOIN sz sa ON sa.doc_id = p.doc_a
       |  JOIN sz sb ON sb.doc_id = p.doc_b
       |)""".stripMargin

  /** The chain over the LSH candidates [[prs]]: `inter`, then `jac`. */
  val shInter: String = interOf("inter", "prs")
  val jacCte: String = jacOf("jac", "prs", "inter")

  /** Frozen integer weight in [-1001, 1001] of word `w` — the hashed linear
    * classifier of `QualityModels.qualityClassifier`. */
  val wordWeight: String =
    "((CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) % 4096) * 2654435761) % 2003 - 1001"

  // ---- paragraph-level dedup (q73) ----

  /** Words of each corpus doc (1-based split index → 0-based word pos);
    * bounded series because this DuckDB build lacks lateral generate_series. */
  val wrd: String =
    """wrd AS (
      |  SELECT doc_id, g.i - 1 AS p, ws[g.i] AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
      |  CROSS JOIN generate_series(1, 128) g(i)
      |  WHERE g.i <= len(ws)
      |)""".stripMargin

  /** Fixed 12-word paragraphs, text rebuilt in word order. */
  val par: String =
    """par AS (
      |  SELECT doc_id, CAST(floor(p / 12.0) AS INT) AS para_id,
      |         string_agg(w, ' ' ORDER BY p) AS para
      |  FROM wrd GROUP BY doc_id, CAST(floor(p / 12.0) AS INT)
      |)""".stripMargin

  /** First-occurrence winner per paragraph hash (ordered by doc, position);
    * the 60-bit BIGINT key mirrors the engine's narrow shuffle key. */
  val kpt: String =
    """kpt AS (
      |  SELECT doc_id, para_id, para,
      |    CASE WHEN row_number() OVER (
      |           PARTITION BY CAST('0x' || substring(md5(para), 1, 15) AS BIGINT)
      |           ORDER BY doc_id, para_id) = 1 THEN 1 ELSE 0 END AS kept
      |  FROM par
      |)""".stripMargin

  // ---- URL canonicalization (q74) ----

  /** Synthetic fetch log: 1–3 fetches per page with deterministic URL noise —
    * mirror of [[graft.ops.WebCuration.fetchLog]] over
    * [[graft.synth.Synth.pages]]. */
  val flog: String =
    """flog AS (
      |  SELECT pid, f,
      |    1700000000 + pid * 37 + f * 86400 AS fetch_ts,
      |    (CASE WHEN (pid + f) % 7 = 0 THEN upper(url) ELSE url END)
      |      || (CASE WHEN (pid + f) % 3 = 0
      |            THEN '?utm_source=feed&ref=' || CAST(pid % 7 AS VARCHAR) ELSE '' END)
      |      || (CASE WHEN (pid + f) % 4 = 0
      |            THEN '#sec' || CAST(pid % 5 AS VARCHAR) ELSE '' END) AS raw
      |  FROM (SELECT CAST(doc_id AS BIGINT) AS pid,
      |          'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
      |        FROM documents)
      |  CROSS JOIN generate_series(0, 2) g(f)
      |  WHERE g.f <= pid % 3
      |)""".stripMargin

  // ---- SRC calibration family (q52-q54) ----

  /** SRC with channel-geometry columns — mirror of
    * [[graft.ops.Calibration.srcGeom]] (same formula text). */
  val srcg: String =
    s"""srcg AS (
      |  SELECT hydroid, i, stage,
      |    $srcDischarge AS discharge_cms,
      |    CAST(1.0 AS DOUBLE) + (hydroid % 8) * CAST(0.125 AS DOUBLE) AS length_km,
      |    CAST(0.001 AS DOUBLE) + (hydroid % 11) * CAST(0.0005 AS DOUBLE) AS slope,
      |    CAST(0.03 AS DOUBLE) + (hydroid % 6) * CAST(0.01 AS DOUBLE) AS channel_n,
      |    CAST(0.1 AS DOUBLE) + (hydroid % 4) * CAST(0.025 AS DOUBLE) AS overbank_n,
      |    area_base + (hydroid % 3 + 1) * CAST(40.0 AS DOUBLE) * stage AS surface_area,
      |    area_base * stage + (hydroid % 3 + 1) * CAST(20.0 AS DOUBLE) * stage * stage AS volume,
      |    area_base + (hydroid % 3 + 1) * CAST(50.0 AS DOUBLE) * stage AS bed_area,
      |    ((hydroid * 61 + 23) % 7000) / 10.0 AS bankfull_flow
      |  FROM (SELECT *, (hydroid % 13 + 5) * CAST(100.0 AS DOUBLE) AS area_base FROM $knots)
      |)""".stripMargin

  /** Bankfull row per HydroID: argmin |bankfull_flow − Q| over stages > 0,
    * ties to the lowest stage (pandas idxmin on a stage-sorted frame). */
  val bfq: String =
    """bfq AS (
      |  SELECT hydroid, stage AS stage_bankfull, volume AS volume_bankfull,
      |    bed_area AS bedarea_bankfull, surface_area AS surfarea_bankfull,
      |    qdiff AS qdiff_bankfull
      |  FROM (SELECT *, row_number() OVER (PARTITION BY hydroid ORDER BY qdiff, stage) AS rn
      |        FROM (SELECT *, abs(bankfull_flow - discharge_cms) AS qdiff
      |              FROM srcg WHERE stage > CAST(0.0 AS DOUBLE)))
      |  WHERE rn = 1
      |)""".stripMargin

  /** Synthetic calibration observations + per-obs coefficients — mirrors of
    * [[graft.ops.Calibration.observations]] / [[graft.ops.Calibration.obsCoefs]]. */
  val obsu: String =
    s"""obsu AS (
      |  SELECT hydroid, j.j AS j, (hydroid * 7 + j.j * 31) % 84 AS ki
      |  FROM $hydroids, generate_series(0, 2) j(j)
      |  WHERE hydroid % 23 < 2 AND hydroid % 97 <> 0
      |)""".stripMargin

  val obsq: String =
    """obsq AS (
      |  SELECT o.hydroid, o.j, g.discharge_cms AS qsrc, g.channel_n, g.overbank_n,
      |    g.discharge_cms * (((o.hydroid * 31 + o.j * 17) % 1000) / 100.0 + CAST(0.05 AS DOUBLE)) AS qobs
      |  FROM obsu o JOIN srcg g ON o.hydroid = g.hydroid AND o.ki = g.i
      |)""".stripMargin

  val coefq: String =
    """coefq AS (
      |  SELECT *, coef * channel_n AS chn, coef * overbank_n AS obn
      |  FROM (SELECT *, qobs / qsrc AS coef FROM obsq)
      |)""".stripMargin

  /** Newton-cbrt chain CTEs for the Manning recompute: i0 seeds yc/yo with
    * sqrt(sqrt(x²)), i1..i8 iterate y ← (2y + x²/y²)/3 — matching
    * [[graft.ops.Calibration]]'s fixed-iteration chain step for step. */
  def newtonCtes: Seq[String] = {
    val seed = "i0 AS (SELECT *, sqrt(sqrt(x2c)) AS yc, sqrt(sqrt(x2o)) AS yo FROM sd4)"
    val steps = (1 to 8).map { k =>
      s"""i$k AS (SELECT * REPLACE (
         |  (CAST(2.0 AS DOUBLE) * yc + x2c / (yc * yc)) / CAST(3.0 AS DOUBLE) AS yc,
         |  (CAST(2.0 AS DOUBLE) * yo + x2o / (yo * yo)) / CAST(3.0 AS DOUBLE) AS yo) FROM i${k - 1})""".stripMargin
    }
    seed +: steps
  }

  // ---- wet-extent raster→vector (q58/q64) ----

  /** Mosaic with the signed-class winner, wet subset, and exploded 4-neighbor
    * ids — mirrors of [[graft.pipeline.Extents]]. */
  val mos58: String =
    """mos58 AS (
      |  SELECT cell, max(CAST(CASE WHEN depth > 0 THEN hydroid ELSE -hydroid END AS INT)) AS clazz
      |  FROM til GROUP BY cell
      |)""".stripMargin

  val wet58: String = "wet58 AS (SELECT cell, clazz FROM mos58 WHERE clazz > 0)"

  val nbr58: String = neighboursCte("nbr58", "cell, clazz", "wet58")

  // ---- synthetic stream networks (graph ops G1-G5) ----

  /** A closed-form reach table over [[hydroids]]: lr = floor(h/144) % 8,
    * lc = h % 8 (144 ≡ 0 mod 8); a reach in row lr = 0 is an outlet (−1),
    * any other drains to row lr − 1, column (its row start) + `downCol`. */
  private def reachNet(name: String, downCol: String, cols: String*): String =
    s"""$name AS (
       |  SELECT hydroid,
       |    ${(s"$huc8FromHydroid AS huc8" +: cols).mkString(",\n    ")},
       |    CAST(CASE WHEN (CAST(floor(hydroid / 144) AS BIGINT) % 8) = 0 THEN -1
       |         ELSE (CAST(floor(hydroid / 144) AS BIGINT) - 1) * 144 + (hydroid % 144) - (hydroid % 8)
       |              + $downCol
       |    END AS BIGINT) AS to_node
       |  FROM $hydroids
       |)""".stripMargin

  /** The reach network (`StreamNet.reaches`): downstream column
    * lc + (lc % 3 − 1), clamped to the row. */
  val net: String = reachNet("net",
    """CASE WHEN (hydroid % 8) + ((hydroid % 8) % 3 - 1) < 0
      |                       OR (hydroid % 8) + ((hydroid % 8) % 3 - 1) > 7
      |                     THEN (hydroid % 8) ELSE (hydroid % 8) + ((hydroid % 8) % 3 - 1) END""".stripMargin,
    "CAST(1 + hydroid % 8 AS INT) AS order_",
    "CAST(1.0 AS DOUBLE) + (hydroid % 8) * CAST(0.125 AS DOUBLE) AS length_km")

  /** The merge-forming network (`NetworkEval.confluenceNet`): downstream
    * column floor(lc / 2), so pairs of reaches meet at confluences. */
  val net98: String = reachNet("net98", "CAST(floor((hydroid % 8) / 2) AS BIGINT)")

  /** Start and end points of every reach of [[net]] matching `where`
    * (from = the catchment centroid, to = the downstream centroid, an
    * outlet ends one catchment row south) — `StreamNet`'s reach geometry. */
  def reachEnds(name: String, where: String): String =
    s"""$name AS (
       |  SELECT hydroid,
       |    ${latCSql("hydroid")} AS from_lat,
       |    ${lngCSql("hydroid")} AS from_lng,
       |    CASE WHEN to_node < 0 THEN ${latCSql("hydroid")} - CAST(1.25 AS DOUBLE)
       |      ELSE ${latCSql("to_node")} END AS to_lat,
       |    CASE WHEN to_node < 0 THEN ${lngCSql("hydroid")}
       |      ELSE ${lngCSql("to_node")} END AS to_lng
       |  FROM net$where
       |)""".stripMargin

  /** Arbolate sums via recursive transitive closure (lengths are dyadic →
    * exact sums, order-insensitive). Standalone query (WITH RECURSIVE). */
  val closure: String =
    """cl AS (
      |  SELECT hydroid AS u, hydroid AS d FROM net
      |  UNION ALL
      |  SELECT cl.u, n.to_node AS d FROM cl JOIN net n ON cl.d = n.hydroid WHERE n.to_node >= 0
      |)""".stripMargin

  val arboAgg: String =
    """arbo AS (
      |  SELECT c.d AS hydroid, sum(n.length_km) AS arbolate_km
      |  FROM cl c JOIN net n ON c.u = n.hydroid
      |  GROUP BY c.d
      |)""".stripMargin

  /** Level-path assignment CTEs (G4) — deterministic confluence tie-breaks,
    * shared by q26 and the group-roughness walk (q65). */
  val chosenCte: String =
    """chosen AS (
      |  SELECT parent, hydroid AS chosen FROM (
      |    SELECT n.to_node AS parent, n.hydroid,
      |      row_number() OVER (PARTITION BY n.to_node
      |        ORDER BY n.order_ DESC, a.arbolate_km DESC, n.hydroid DESC) AS rn
      |    FROM net n JOIN arbo a ON n.hydroid = a.hydroid WHERE n.to_node >= 0)
      |  WHERE rn = 1
      |)""".stripMargin

  val lpCte: String =
    """lp AS (
      |  SELECT n.hydroid, n.hydroid AS branch
      |  FROM net n LEFT JOIN chosen c ON c.parent = n.to_node AND c.chosen = n.hydroid
      |  WHERE n.to_node = -1 OR c.chosen IS NULL
      |  UNION ALL
      |  SELECT c.chosen AS hydroid, lp.branch
      |  FROM lp JOIN chosen c ON c.parent = lp.hydroid
      |)""".stripMargin

  /** Points and routable points per HUC8 unit (q46/q105's unit status). */
  val hagg: String =
    s"""hagg AS (
       |  SELECT $huc8FromHydroid AS huc8,
       |    count(*) AS n_pts,
       |    count(CASE WHEN hydroid % 97 <> 0 THEN 1 END) AS n_ok
       |  FROM asg GROUP BY 1
       |)""".stripMargin

  /** Status code of every one of the 18 × 18 HUC8 units over [[hagg]]:
    * 60 no points, 64 no routable point, else 0 (`Inundate.unitStatus`). */
  val unitStatus: String =
    """ust AS (
      |  SELECT u.huc8,
      |    CAST(CASE WHEN a.huc8 IS NULL THEN 60 WHEN a.n_ok = 0 THEN 64 ELSE 0 END AS INT) AS status,
      |    coalesce(a.n_pts, 0) AS n_pts, coalesce(a.n_ok, 0) AS n_ok
      |  FROM (SELECT lpad(CAST(x.x * 18 + y.x AS VARCHAR), 8, '0') AS huc8
      |        FROM generate_series(0, 17) x(x), generate_series(0, 17) y(x)) u
      |  LEFT JOIN hagg a ON u.huc8 = a.huc8
      |)""".stripMargin

  /** REM/HAND detrend of every point: its HAND minus its catchment's
    * thalweg (pid % 23 = 1) minimum, −9999 where the catchment has no
    * thalweg point: `rem(pid, hydroid, hand, rem)`, twin of `Terrain.rem`. */
  val remCte: String =
    """rem AS (
      |  SELECT a.pid, a.hydroid, a.hand,
      |    CASE WHEN z.zmin IS NULL THEN CAST(-9999.0 AS DOUBLE)
      |         ELSE a.hand - z.zmin END AS rem
      |  FROM asg a LEFT JOIN (SELECT hydroid, min(hand) AS zmin FROM asg WHERE pid % 23 = 1
      |                        GROUP BY hydroid) z ON a.hydroid = z.hydroid
      |)""".stripMargin

  // ---- terrain DEM: 144 × 144 cells, gid = r * 144 + c ([[graft.ops.Terrain]]) ----

  /** Elevation of cell (r, c) — exact dyadic doubles (Terrain's `elevOf`). */
  def elevSql(r: String, c: String): String =
    s"(($r * 31 + $c * 17) % 400) / CAST(4.0 AS DOUBLE) + $r / CAST(4.0 AS DOUBLE)"

  /** `<name>`: the DEM grid (gid, r, c, elev, `cols`…) over row r.x and
    * column c.x, keeping the cells `where` keeps — twin of `Terrain.grid`. */
  def demCte(name: String, cols: Seq[String] = Nil, where: String = "TRUE"): String =
    s"""$name AS (
       |  SELECT r.x * 144 + c.x AS gid, r.x AS r, c.x AS c,
       |    ${(s"${elevSql("r.x", "c.x")} AS elev" +: cols).mkString(",\n    ")}
       |  FROM generate_series(0, 143) r(x), generate_series(0, 143) c(x)
       |  WHERE $where
       |)""".stripMargin

  def withRecursiveCtes(ctes: String*)(body: String): String =
    "WITH RECURSIVE " + ctes.mkString(",\n") + "\n" + body

  // ---- ANN over embeddings (quantized long form; pos is 0-based) ----

  val qt: String =
    """qt AS (
      |  SELECT vec_id, g.i - 1 AS pos,
      |    CAST(round(CAST(embedding[g.i] AS DOUBLE) * CAST(1000.0 AS DOUBLE)) AS BIGINT) AS q
      |  FROM embeddings CROSS JOIN generate_series(1, 256) g(i)
      |  WHERE g.i <= len(embedding)
      |)""".stripMargin

  val nrm: String =
    "nrm AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qt GROUP BY vec_id)"

  def withCtes(ctes: String*)(body: String): String =
    "WITH " + ctes.mkString(",\n") + "\n" + body
}
