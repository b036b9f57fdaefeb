package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DEM-conditioning family — the reference's hydro-conditioning kernels
  * re-expressed as bounded-radius join algebra over a deterministic raster
  * grid:
  *
  *  - [[agreeBurn]] (q100) — `src/agreedem.py:10-331` (the AGREE / Hellweger
  *    stream-burn: smooth drop, euclidean distance + nearest-value
  *    allocation, buffer rim, sharp drop) with the distance/allocation
  *    transforms of `src/unique_pixel_and_allocation.py:14-60` as
  *    block-halo equi-joins.
  *  - [[accuflux]] (q101) — `src/accumulate_headwaters.py:20-82`
  *    (headwater accumulation along flow direction + threshold to stream
  *    pixels), per-HUC kernel ≡ recursive-CTE oracle.
  *  - [[rem]] (q102) — `src/make_rem.py:10-130` (REM/HAND: per-catchment
  *    minimum elevation along the thalweg, subtracted from every cell).
  *
  * Scale shape: the distance transforms never scan the grid per cell — river
  * / rim candidates are replicated to their 3×3 neighbor blocks (block edge
  * 8 ≥ the proven search radius 6) and matched with ONE hash equi-join on
  * the block key, so candidate count per cell is bounded by the buffer
  * radius, cost is linear in cells, and the same plan shards by block key
  * on a cluster. The argmin is a packed-BIGINT `min` (d² · 2²⁰ + gid —
  * exact, order-insensitive, map-side combining), never a window.
  */
object Terrain {

  val GridN = 144                  // rows = cols = 144, gid = r*144 + c
  val BufferDist = 3.75            // AGREE buffer (cells)
  // the buffer less half a cell, squared to compare on d²: 10.5625, exact
  val FinalBuffer2 = (BufferDist - 0.5) * (BufferDist - 0.5)
  val SmoothDrop = 10.0            // agreedem.py smooth_drop
  val SharpDrop = 1000.0           // agreedem.py sharp_drop
  val Rad = 6                      // Chebyshev search radius (rivers every
                                   // 12 cols ⇒ d∞ ≤ 6 to a river cell)
  private val Ndv = -9999.0        // raster nodata value
  private val WseRad = 4           // interpolateWse's max search distance
  private val StreamThreshold = 25 // accuflux's stream-pixel value

  /** Elevation closed form — exact dyadic doubles (quarters), so every
    * engine computes the identical bit pattern (oracle twin:
    * `OracleSql.elevSql`, gridded by `OracleSql.demCte`). */
  private def elevOf(r: Column, c: Column): Column =
    ((r * 31 + c * 17) % 400) / lit(4.0) + r / lit(4.0)

  /** The synthetic DEM grid: (gid, r, c, elev, river). River cells form
    * vertical lines every 12 columns plus sparse horizontal lines — real
    * 2-D distance structure with T-junctions. */
  def grid(spark: SparkSession): DataFrame =
    spark.range(0, (GridN * GridN).toLong).select(
      col("id").as("gid"),
      expr(s"id div $GridN").cast("int").as("r"),
      (col("id") % GridN).cast("int").as("c"))
      .withColumn("elev", elevOf(col("r"), col("c")))
      .withColumn("river",
        when(col("c") % 12 === 5 || col("r") % 36 === 18, 1).otherwise(0))

  /** All (cell, candidate) pairs within Chebyshev radius `rad` via the
    * block-halo equi-join (candidates exploded to their own + 8 neighbor
    * 8×8 blocks; `rad` must be < 8). Candidate columns beyond (gid, r, c)
    * pass through untouched; (gid, r, c) arrive as (vgid, vr, vc) next to
    * the probe cell's own, plus the exact integer `d2`. */
  private def haloPairs(cells: DataFrame, candidates: DataFrame,
      rad: Int): DataFrame = {
    require(rad < 8, s"halo covers one block ring only (rad=$rad)")
    val extra = candidates.columns.filterNot(Set("gid", "r", "c")).toSeq
    val halo = candidates
      .select(col("gid").as("vgid") +: col("r").as("vr") +: col("c").as("vc")
        +: extra.map(col): _*)
      .withColumn("dbr", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("dbc", explode(array((-1 to 1).map(lit): _*)))
      .select((expr("vr div 8") + col("dbr")).cast("int").as("br") +:
        (expr("vc div 8") + col("dbc")).cast("int").as("bc") +:
        col("vgid") +: col("vr") +: col("vc") +: extra.map(col): _*)
    cells.select(col("gid"), col("r"), col("c"),
      expr("r div 8").cast("int").as("br"), expr("c div 8").cast("int").as("bc"))
      .join(halo, Seq("br", "bc"))
      .filter(abs(col("vr") - col("r")) <= rad && abs(col("vc") - col("c")) <= rad)
      .withColumn("d2", ((col("vr") - col("r")) * (col("vr") - col("r"))
        + (col("vc") - col("c")) * (col("vc") - col("c"))).cast("long"))
  }

  /** Nearest candidate per grid cell within Chebyshev radius [[Rad]], as a
    * block-halo equi-join: candidates are exploded to their own and the 8
    * neighboring 8×8 blocks, the probe side joins on the block key only,
    * and the argmin is min(d² · 2²⁰ + candidate gid) — deterministic
    * (lowest gid wins ties) and exact (d² ≤ 2·Rad², gid < 2²⁰). Returns
    * (gid, packed). */
  private def nearest(cells: DataFrame, candidates: DataFrame): DataFrame =
    haloPairs(cells, candidates.select("gid", "r", "c"), Rad)
      .groupBy(col("gid"))
      .agg(min(col("d2") * lit(1048576L) + col("vgid")).as("packed"))

  /** AGREE stream burn (q100) — `src/agreedem.py:10-331`, all eight
    * Hellweger steps as one relational plan:
    *
    *  1. smogrid: river cells at elev − smooth_drop (folded into vectallo).
    *  2-3. vectdist / vectallo: distance to the nearest river cell and that
    *     cell's (dropped) elevation — [[nearest]] against river cells.
    *  4. bufgrid: cells with vectdist² > (buffer − half_res)² keep their
    *     elevation (the rim); cells inside are nodata.
    *  5. bufdist / bufallo: distance/elevation of the nearest rim cell —
    *     [[nearest]] against rim cells, probed only by inside-buffer cells
    *     (rim cells are their own nearest at distance 0, the reference's
    *     valued-cell semantics).
    *  6. smoelev = vectallo + (bufallo − vectallo)/(bufdist + vectdist) ·
    *     vectdist — linear reconditioning between dropped stream and rim.
    *  7. shagrid: river cells get smoelev − sharp_drop.
    *  8. elevgrid: river → sharp; outside buffer → original; else smooth.
    *
    * The synthetic grid has full valid coverage, so the reference's
    * nodata-allocation fallbacks (`agreedem.py:230-238`) never trigger here
    * — [[agreeBurnWithHoles]] (q115) models them over a grid with
    * deterministic nodata holes. */
  def agreeBurn(spark: SparkSession): DataFrame =
    // full-coverage grid: the general form's fallback branches are inert
    // (every cell has a valid river donor and, inside the buffer, a valid
    // rim donor), so the fallback-flag columns are statically 0 and dropped
    agreeOver(grid(spark).cache()).drop("vfb", "bfb")

  /** AGREE over a DEM with nodata holes (q115) — the allocation fallbacks of
    * `src/agreedem.py:230-238` that q100's full-coverage grid never
    * triggers: where the nearest-value allocation has no valid donor, the
    * reference patches `bufallo → elev` (own elevation) and `vectallo →
    * elev − smooth_drop`. Two deterministic hole regions force both paths:
    *
    *  - a river-line gap (col 17, rows 25-47 removed) strands the valid
    *    cells of [31,41]×[12,22] with NO valid river cell within the search
    *    radius → the `vectallo` fallback (110 cells; they are necessarily
    *    outside the buffer, so `agree_elev` keeps the original elevation —
    *    exactly the reference's outcome for far-from-stream nodata zones);
    *  - rim-blocking flanks (rows 106-118, cols 44-49 ∪ 57-62 removed)
    *    leave the in-buffer cells (112, 50-56) with no valid rim cell in
    *    radius → the `bufallo` fallback (7 cells, incl. the river cell
    *    (112,53)).
    *
    * Nodata cells themselves are dropped (the reference writes the nodata
    * value through — `agreedem.py:309-311`). Distances at a fallback follow
    * the patched-allocation semantics: `bd2 = 0` with `bgid = gid` (the
    * cell donates to itself, same as the out-of-buffer case), and the
    * smooth-reconditioning formula degenerates continuously:
    * `smoelev = vectallo` when `bufdist + vectdist = 0` (its limit — the
    * untriggered normal path is unchanged since river cells always have
    * `bufdist > 0` there). Same halo-join plan shape as [[agreeBurn]]. */
  def agreeBurnWithHoles(spark: SparkSession): DataFrame =
    agreeOver(grid(spark)
      .filter(!((col("r").between(106, 118) &&
          (col("c").between(44, 49) || col("c").between(57, 62))) ||
        (col("r").between(25, 47) && col("c") === 17)))
      .cache())

  /** The ONE AGREE reconditioning pipeline (shared by [[agreeBurn]] and
    * [[agreeBurnWithHoles]] so the recondition math can never drift between
    * the full-coverage and holey paths): nearest-river allocation with the
    * no-valid-donor fallback (`vectallo → own elev − smooth_drop`,
    * `agreedem.py:230-238`), rim derivation, nearest-rim allocation with the
    * self-donation fallback (`bufallo → own elev`, distance 0), and the
    * smooth/sharp reconditioned elevation — `smoelev` degenerating
    * continuously to `vectallo` when `bufdist + vectdist = 0` (only ever hit
    * via fallbacks; on a full-coverage grid the guard is inert since river
    * cells always have `bufdist > 0`). */
  private def agreeOver(g: DataFrame): DataFrame = {
    val vect = nearest(g, g.filter(col("river") === 1))
    val withVect = g.join(vect, Seq("gid"), "left")
      .withColumn("vfb", col("packed").isNull.cast("int"))
      .withColumn("vd2", expr("packed div 1048576"))
      .withColumn("vgid", col("packed") % 1048576L)
      .withColumn("vectdist", sqrt(col("vd2").cast("double")))
      .withColumn("vectallo",
        when(col("vfb") === 1, col("elev") - lit(SmoothDrop))
          .otherwise(elevOf(expr(s"vgid div $GridN").cast("int"),
            (col("vgid") % GridN).cast("int")) - lit(SmoothDrop)))
      .withColumn("outside",
        (col("vfb") === 1 || col("vd2").cast("double") > lit(FinalBuffer2)).cast("int"))
      .drop("packed")
    val rim = withVect.filter(col("outside") === 1)
      .select(col("gid"), col("r"), col("c"))
    val buf = nearest(withVect.filter(col("outside") === 0), rim)
      .select(col("gid"), expr("packed div 1048576").as("bd2_in"),
        (col("packed") % 1048576L).as("bgid_in"))
    withVect.join(buf, Seq("gid"), "left")
      .withColumn("bfb", (col("outside") === 0 && col("bgid_in").isNull).cast("int"))
      .withColumn("bd2",
        when(col("outside") === 1 || col("bfb") === 1, 0L).otherwise(col("bd2_in")))
      .withColumn("bgid", coalesce(col("bgid_in"), col("gid")))
      .withColumn("bufdist", sqrt(col("bd2").cast("double")))
      .withColumn("bufallo",
        elevOf(expr(s"bgid div $GridN").cast("int"), (col("bgid") % GridN).cast("int")))
      .withColumn("smoelev",
        when(col("bufdist") + col("vectdist") === 0.0, col("vectallo"))
          .otherwise(col("vectallo") + (col("bufallo") - col("vectallo"))
            / (col("bufdist") + col("vectdist")) * col("vectdist")))
      .withColumn("agree_elev",
        when(col("river") === 1, col("smoelev") - lit(SharpDrop))
          .when(col("outside") === 1, col("elev"))
          .otherwise(col("smoelev")))
      .select(col("gid"), col("river"), col("elev"), col("vfb"), col("vd2"),
        col("vgid"), col("vectallo"), col("bfb"), col("bd2"), col("bgid"),
        col("bufallo"), col("smoelev"), col("agree_elev"))
  }

  /** Headwater flow accumulation + stream-pixel threshold (q101) —
    * `src/accumulate_headwaters.py:20-82`: accuflux(weights, direction=up)
    * over the reach flow forest, where the weight raster is 1 at a sparse
    * deterministic subset of true headwaters (no-inflow reaches with
    * hydroid % 13 == 2) and 0 elsewhere; every reach accumulates the
    * weights of its upstream cone (plus itself), and the stream-pixel
    * raster takes the threshold VALUE where accumulation is positive
    * (`accumulate_headwaters.py:73` `np.where(flowaccum > 0, threshold,
    * 0)` — the reference writes the threshold, not a 0/1 flag).
    *
    * Per-HUC `flatMapGroups` kernel (depth ≤ 8 by construction), the same
    * shape as [[StreamNet.arbolate]]; the oracle is the recursive-CTE
    * path-count (one row per headwater × downstream node). */
  def accuflux(spark: SparkSession, reachesDf: DataFrame): DataFrame = {
    import spark.implicits._
    reachesDf.select(col("huc8"), col("hydroid").cast("int"),
      col("to_node").cast("int"))
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (huc, it) =>
        val rs = it.toArray
        val ups = rs.groupBy(_._3) // to_node -> upstream reaches
        val memo = scala.collection.mutable.HashMap[Int, Long]()
        def acc(h: Int): Long = memo.getOrElseUpdate(h, {
          val kids = ups.getOrElse(h, Array.empty)
          val w = if (kids.isEmpty && h % 13 == 2) 1L else 0L
          w + kids.map(k => acc(k._2)).sum
        })
        rs.iterator.map(r => (huc, r._2, acc(r._2)))
      }
      .toDF("huc8", "hydroid", "flowaccum")
      .withColumn("stream_pixel",
        when(col("flowaccum") > 0, lit(StreamThreshold)).otherwise(lit(0)))
  }

  /** REM / HAND detrend (q102) — `src/make_rem.py:30-130`: per
    * pixel-catchment minimum DEM along the thalweg (`thalweg_window == 1`
    * gate, `make_rem.py:31-34`), then REM = dem − catchment_min for every
    * cell of the catchment; catchments absent from the min dictionary keep
    * the nodata value (`calculate_rem:79-88`). Thalweg mask: every 23rd
    * point (offset 1). Zonal min is a 20 k-row broadcast back over the
    * fact table — one partial-aggregating exchange, no wide join. */
  def rem(assigned: DataFrame): DataFrame = {
    val mins = assigned.filter(col("pid") % 23 === 1)
      .groupBy(col("hydroid")).agg(min(col("hand")).as("zmin"))
    assigned.join(broadcast(mins), Seq("hydroid"), "left")
      .select(col("pid"), col("hydroid").cast("long").as("hydroid"),
        col("hand").as("dem"),
        when(col("zmin").isNull, lit(Ndv))
          .otherwise(col("hand") - col("zmin")).as("rem"))
  }

  /** Levee burn-in (q111) — `src/burn_in_levees.py:9-24`: the NLD levee
    * crest grid is maximum-composited into the DEM
    * (`np.maximum(dem, nld)` with nodata passed through as the large
    * negative sentinel, which the maximum then ignores — the reference's
    * exact formulation, reproduced with `greatest`). Levee crests run along
    * sparse deterministic lines; everything is per-cell map work. */
  def burnInLevees(spark: SparkSession): DataFrame =
    grid(spark)
      .withColumn("nld",
        when(col("r") % 24 === 6,
          col("elev") + ((col("r") * 3 + col("c") * 7) % 20) / lit(4.0) + lit(2.0))
          .otherwise(lit(Ndv)))
      .select(col("gid"), col("elev"), col("nld"),
        greatest(col("elev"), col("nld")).as("burned_elev"))

  /** Water-surface interpolation + depth (q108) —
    * `tools/interpolate_water_surface.py:15-80` (`fillnodata` over the WSE
    * raster within a max search distance, then depth = WSE − DEM):
    * nodata cells take the inverse-distance-weighted mean of the valid
    * cells within Chebyshev radius [[WseRad]], computed EXACTLY — weights are the
    * integer floor(2²⁰ / d²), values are exact quarter-unit integers, so
    * both Σw·v and Σw are order-insensitive BIGINT sums and the single
    * final division is bit-identical on any engine and any partitioning
    * (a naive double Σ(v/d²) would be partition-order-dependent). Cells
    * with no valid cell in range keep nodata (the reference's
    * max_search_distance semantics). Same halo-join scale shape as
    * [[agreeBurn]]: candidates per cell bounded by the radius, linear in
    * cells, shards by block key. */
  def interpolateWse(spark: SparkSession): DataFrame = {
    val g = grid(spark)
      .withColumn("valid", ((col("r") * 7 + col("c") * 3) % 5 =!= 0).cast("int"))
      .withColumn("wse",
        col("elev") + ((col("r") * 5 + col("c") * 11) % 8) / lit(4.0))
      .cache()
    val fill = haloPairs(g.filter(col("valid") === 0),
      g.filter(col("valid") === 1)
        .select(col("gid"), col("r"), col("c"),
          (col("wse") * 4).cast("long").as("vq")), WseRad)
      .withColumn("w", floor(lit(1048576.0) / col("d2").cast("double")).cast("long"))
      .groupBy(col("gid"))
      .agg(sum(col("w") * col("vq")).as("num"), sum(col("w")).as("den"))
    g.join(fill, Seq("gid"), "left")
      .select(col("gid"), col("valid"),
        when(col("valid") === 1, col("wse"))
          .when(col("den").isNotNull,
            col("num").cast("double") / col("den").cast("double") / lit(4.0))
          .otherwise(lit(Ndv)).as("wse_filled"),
        when(col("valid") === 0 && col("den").isNull, lit(Ndv))
          .otherwise((when(col("valid") === 1, col("wse"))
            .otherwise(col("num").cast("double") / col("den").cast("double") / lit(4.0)))
            - col("elev")).as("depth"))
  }
}
