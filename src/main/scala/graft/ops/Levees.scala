package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.Cells
import graft.synth.Synth

/** Levee–levelpath association — `src/associate_levelpaths_with_levees.py`.
  *
  * Reference algorithm (`:60-210`):
  *  1. buffer each levee line single-sided, left and right (`:60-63`);
  *  2. intersect the levee-protected areas with each side's buffer, keeping
  *     same-id matches, and measure the intersected area per side
  *     (`:66-105`); the side the levee PROTECTS FROM (the river side) is the
  *     one with LESS protected area (`:128-130`);
  *  3. spatially join each side's buffer with the levelpaths and keep paths
  *     on the protecting side (`:136-150`);
  *  4. leveed areas whose levee intersected nothing get a double-width
  *     two-sided buffer and their path joins are appended (`:163-178`,
  *     membership tested against the set of buffer levee-ids that hit ANY
  *     area — the reference's id-set quirk, reproduced);
  *  5. drop pairs whose levee⋈path line intersection is exactly ONE point,
  *     and zero-crossing pairs whose path touches the leveed area
  *     (`:180-210`).
  *
  * Engine geometry: levees are horizontal segments on catchment-row
  * boundaries (exact dyadics — reach segments cross them strictly, never
  * touching endpoints); buffers and leveed areas are axis-aligned rects;
  * levelpaths are the reach-segment polylines of [[StreamNet.levelPaths]].
  * Segment∩rect is bbox overlap + a line-side corner test (exact dyadic
  * cross products); levee-line crossings solve the horizontal intercept.
  *
  * Scale shape: levees are a tiny dimension — every buffer/area test
  * broadcasts; the path-segment table is the fact side, joined through a
  * CoarseRes cell-cover equi-join (q68's overlay pattern), never a
  * nested-loop join. Crossing counts are partial-aggregating.
  */
object Levees {

  val BufferDeg = 0.5
  val NumLevees = 120

  final case class Levee(levee_id: Int, y: Double, x0: Double, x1: Double,
      // leveed-area rect [a_x0, x1] × [a_lat_min, a_lat_max]
      a_x0: Double, a_lat_min: Double, a_lat_max: Double)

  /** Deterministic levee + leveed-area scene (tiny dimension, 120 rows).
    * Levee ℓ sits on row boundary y = r·CatH − 90 spanning 2–4 catchment
    * columns, x-shifted 0.5° OFF the column grid — the shift makes some
    * diagonal reaches clip a buffer corner without crossing the levee line
    * (the parallel-running river the association is FOR; perfectly aligned
    * levees would cross every nearby path exactly once and the reference's
    * once-filter would drop everything). The protected area starts one
    * column east of the levee (west corner-clippers stay off it) and its
    * placement varies: ℓ%7=0 → far away (the not-found branch), ℓ%5=0 →
    * straddling (both buffers intersect, side decided by area comparison),
    * else fully north (ℓ%2=0) or south. */
  lazy val leveeList: IndexedSeq[Levee] =
    for (l <- 0 until NumLevees) yield {
      val r = (l * 13 + 7) % (Synth.CatRows - 2) + 1
      val y = r * Synth.CatH - 90.0
      val c0 = (l * 29 + 3) % (Synth.CatCols - 6)
      val w = 2 + l % 3
      val x0 = c0 * Synth.CatW - 180.0 + 0.5
      val x1 = (c0 + w) * Synth.CatW - 180.0 + 0.5
      val d = 0.25 + (l % 4) * 0.125
      val (aMin, aMax) =
        if (l % 7 == 0) (y + 5.0, y + 5.5)
        else if (l % 5 == 0) (y - 0.25, y + d)
        else if (l % 2 == 0) (y + 0.125, y + 0.125 + d)
        else (y - 0.125 - d, y - 0.125)
      Levee(l, y, x0, x1, x0 + Synth.CatW, aMin, aMax)
    }

  def levees(spark: SparkSession): DataFrame = {
    import spark.implicits._
    leveeList.toDF()
  }

  /** Levelpath segments: one row per reach with its polyline segment and the
    * owning levelpath. */
  def pathSegments(spark: SparkSession): DataFrame = {
    val net = StreamNet.reaches(spark)
    net.join(StreamNet.levelPaths(spark, net), Seq("huc8", "hydroid"))
      .select(col("levelpath_id"), col("hydroid"),
        col("from_lng").as("xf"), col("from_lat").as("yf"),
        col("to_lng").as("xt"), col("to_lat").as("yt"))
  }

  /** Segment (xf,yf)-(xt,yt) intersects rect [x0,x1]×[y0,y1]: bbox overlap
    * AND the segment's supporting line does not separate the rect corners
    * (exact dyadic cross products — `side(c) = dx·(cy−yf) − dy·(cx−xf)`). */
  def segIntersectsRect(x0: Column, x1: Column, y0: Column, y1: Column): Column = {
    val dx = col("xt") - col("xf"); val dy = col("yt") - col("yf")
    def side(cx: Column, cy: Column): Column = dx * (cy - col("yf")) - dy * (cx - col("xf"))
    val s1 = side(x0, y0); val s2 = side(x1, y0)
    val s3 = side(x1, y1); val s4 = side(x0, y1)
    val bbox = greatest(least(col("xf"), col("xt")), x0) <= least(greatest(col("xf"), col("xt")), x1) &&
      greatest(least(col("yf"), col("yt")), y0) <= least(greatest(col("yf"), col("yt")), y1)
    bbox && least(s1, s2, s3, s4) <= 0 && greatest(s1, s2, s3, s4) >= 0
  }

  /** Exploded CoarseRes cover of a rect family given driver-side, for the
    * broadcast side of the cover equi-join. */
  private def coverDf(spark: SparkSession,
      rects: Seq[(Int, Double, Double, Double, Double)]): DataFrame = {
    import spark.implicits._
    // CLOSED cover (no nextDown): the intersect predicate is closed, so a
    // tangent contact exactly on a cell-boundary edge must still share a
    // cover cell with the segment side — the predicate re-check discards
    // any false positives the extra boundary row admits
    rects.flatMap { case (id, x0, x1, y0, y1) =>
      Cells.cover(math.max(-90.0, y0), math.min(90.0, y1),
          math.max(-180.0, x0), math.min(180.0, x1), Cells.CoarseRes)
        .map(cc => (cc, id, x0, x1, y0, y1))
    }.toDF("ccell", "levee_id", "x0", "x1", "y0", "y1")
  }

  /** Path segments with their CoarseRes bbox-cover cells (fact side). */
  def segsWithCover(segs: DataFrame): DataFrame = {
    val (rlo, clo) = Cells.rowCol(least(col("yf"), col("yt")), least(col("xf"), col("xt")), Cells.CoarseRes)
    val (rhi, chi) = Cells.rowCol(greatest(col("yf"), col("yt")), greatest(col("xf"), col("xt")), Cells.CoarseRes)
    segs
      .withColumn("rlo", rlo)
      .withColumn("rhi", rhi)
      .withColumn("clo", clo)
      .withColumn("chi", chi)
      .withColumn("rr", explode(sequence(col("rlo"), col("rhi"))))
      .withColumn("cc", explode(sequence(col("clo"), col("chi"))))
      .withColumn("ccell", Cells.encodeCol(Cells.CoarseRes, col("rr"), col("cc")))
      .drop("rlo", "rhi", "clo", "chi", "rr", "cc")
  }

  /** Distinct (levee_id, levelpath_id) pairs whose path touches the given
    * rect family — the engine's `gpd.sjoin(buffers, levelpaths)`. */
  private def sjoinPaths(spark: SparkSession, cov: DataFrame,
      rects: Seq[(Int, Double, Double, Double, Double)]): DataFrame =
    cov
      .join(broadcast(coverDf(spark, rects)), "ccell")
      .filter(segIntersectsRect(col("x0"), col("x1"), col("y0"), col("y1")))
      .select(col("levee_id"), col("levelpath_id")).distinct()

  /** q90: the full association. Output one row per surviving
    * (levee, levelpath) with the resolved side and the crossing count. */
  def associate(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // ONE covered-segment table, cached: three branches (buffer sjoin,
    // crossings, area sjoin) read it — without the cache each re-derives
    // the reach network + per-HUC level-path kernel + cover explode
    val cov = segsWithCover(pathSegments(spark)).cache()

    // --- steps 1+2 driver-side (the levee scene is a 120-row dimension):
    // per-side buffer ∩ leveed-area overlap areas, same-id matches only
    def interLen(a0: Double, a1: Double, b0: Double, b1: Double): Double =
      math.max(0.0, math.min(a1, b1) - math.max(a0, b0))
    // buffer ids that intersected ANY leveed area (the reference's id-set)
    val hitIds = (for {
      b <- leveeList; a <- leveeList
      if interLen(b.x0, b.x1, a.a_x0, a.x1) > 0 &&
        (interLen(b.y, b.y + BufferDeg, a.a_lat_min, a.a_lat_max) > 0 ||
         interLen(b.y - BufferDeg, b.y, a.a_lat_min, a.a_lat_max) > 0)
    } yield b.levee_id).toSet
    val sides: Map[Int, String] = leveeList.flatMap { l =>
      val xov = interLen(l.x0, l.x1, l.a_x0, l.x1)
      val left = xov * interLen(l.y, l.y + BufferDeg, l.a_lat_min, l.a_lat_max)
      val right = xov * interLen(l.y - BufferDeg, l.y, l.a_lat_min, l.a_lat_max)
      if (left <= 0 && right <= 0) None
      else Some(l.levee_id -> (if (left < right) "left" else "right"))
    }.toMap
    val notFound = leveeList.filter(l => !hitIds.contains(l.levee_id)).map(_.levee_id).toSet

    // --- step 3: paths in the PROTECTING side's buffer
    val leftRects = leveeList.filter(l => sides.get(l.levee_id).contains("left"))
      .map(l => (l.levee_id, l.x0, l.x1, l.y, l.y + BufferDeg))
    val rightRects = leveeList.filter(l => sides.get(l.levee_id).contains("right"))
      .map(l => (l.levee_id, l.x0, l.x1, l.y - BufferDeg, l.y))
    // --- step 4: not-found levees get a double-width two-sided buffer
    val nfRects = leveeList.filter(l => notFound.contains(l.levee_id))
      .map(l => (l.levee_id, l.x0, l.x1, l.y - 2 * BufferDeg, l.y + 2 * BufferDeg))
    val pairs = sjoinPaths(spark, cov, leftRects ++ rightRects ++ nfRects)

    // --- step 5a: crossing counts of the levee LINE itself per pair.
    // A segment strictly crossing y has the line's cover row inside its own
    // bbox cover, so the cover equi-join catches every crossing (dedup on
    // the reach id before counting — a segment can share several cells with
    // the line).
    val lineCover = leveeList.flatMap { l =>
      Cells.cover(l.y, l.y, l.x0, math.nextDown(l.x1), Cells.CoarseRes)
        .map(cc => (cc, l.levee_id, l.y, l.x0, l.x1))
    }.toDF("ccell", "levee_id", "y", "x0", "x1")
    val crossed = cov
      .join(broadcast(lineCover), "ccell")
      .filter((col("yf") - col("y")) * (col("yt") - col("y")) < 0)
      .withColumn("xc",
        col("xf") + (col("y") - col("yf")) * (col("xt") - col("xf")) / (col("yt") - col("yf")))
      .filter(col("xc") >= col("x0") && col("xc") <= col("x1"))
      .select(col("levee_id"), col("levelpath_id"), col("hydroid")).distinct()
      .groupBy(col("levee_id"), col("levelpath_id"))
      .agg(count(lit(1)).as("n_crossings"))
    // --- step 5b: does the path touch the leveed area?
    val areaRects = leveeList.map(l => (l.levee_id, l.a_x0, l.x1, l.a_lat_min, l.a_lat_max))
    val touchesArea = sjoinPaths(spark, cov, areaRects).withColumn("touches", lit(1))

    val sideCol = leveeList.map(l =>
      (l.levee_id, sides.getOrElse(l.levee_id, "none"))).toDF("levee_id", "levee_side")
    pairs
      .join(crossed, Seq("levee_id", "levelpath_id"), "left")
      .join(touchesArea, Seq("levee_id", "levelpath_id"), "left")
      .withColumn("n_crossings", coalesce(col("n_crossings"), lit(0L)))
      .filter(col("n_crossings") =!= 1 &&
        !(col("n_crossings") === 0 && col("touches").isNotNull))
      .join(broadcast(sideCol), "levee_id")
      .select(col("levee_id"), col("levelpath_id"), col("levee_side"), col("n_crossings"))
  }
}
