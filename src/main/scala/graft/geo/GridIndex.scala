package graft.geo

/** Point → polygon-id lookup over a polygon partition, as a grid of cells in
  * compressed-sparse-row primitive arrays — the multi-step spatial join's
  * filter and true-hit steps (Brinkhoff et al., SIGMOD 1993/1994) resolved
  * once per polygon set instead of once per query.
  *
  * Cells use the [[Cells]] grid and its exact formula
  * `row = floor((lat + 90) / 180 · 2^res)`, `col = floor((lng + 180) / 360 · 2^(res+1))`,
  * restricted to the window of rows/cols the polygons' bboxes reach. Each
  * cell is classified against its extent grown by [[GridIndex.Margin]]
  * degrees, which covers every point the floating-point formula maps into it:
  *  - *interior*: no polygon edge touches the grown extent and the cell
  *    centre lies in a polygon — the cell returns that polygon's id with no
  *    ring test;
  *  - *boundary*: some edge touches it — the cell keeps, in input order, the
  *    polygons not disjoint from it, and a point runs [[Geom.contains]] over
  *    them until the first hit;
  *  - *empty*: neither — every point in it misses.
  *
  * So `lookup(lng, lat)` equals "id of the first polygon, in input order,
  * whose `Geom.contains` holds, else [[GridIndex.Miss]]" bit for bit.
  *
  * Precondition: the polygons form a partition (interiors pairwise
  * disjoint; shared edges and vertices are fine) with non-negative ids.
  * [[GridIndex.build]] rejects a pair whose edges cross, or where a vertex,
  * an edge midpoint or an interior point of one lies more than `Margin`
  * inside the other, with an `IllegalArgumentException`.
  */
final class GridIndex private (
    val res: Int,
    row0: Long, col0: Long,
    val nRows: Int, val nCols: Int,
    cellStart: Array[Int], // nRows·nCols + 1 offsets into entry
    entry: Array[Int],     // boundary: polygon index; interior: -1 - polygon index
    ringStart: Array[Int], // polygon p's ring is coords[ringStart(p) until ringStart(p + 1)]
    coords: Array[Double],
    ids: Array[Int]) extends Serializable {

  private val rowsD = Cells.rows(res).toDouble
  private val colsD = Cells.cols(res).toDouble

  /** Id of the polygon containing (lng, lat), or [[GridIndex.Miss]]. */
  def lookup(lng: Double, lat: Double): Int = {
    val fr = math.floor((lat + 90.0) / 180.0 * rowsD) - row0
    val fc = math.floor((lng + 180.0) / 360.0 * colsD) - col0
    // NaN and out-of-window coordinates fail these comparisons
    if (!(fr >= 0 && fr < nRows && fc >= 0 && fc < nCols)) return GridIndex.Miss
    val c = fr.toInt * nCols + fc.toInt
    var k = cellStart(c)
    val end = cellStart(c + 1)
    if (k < end && entry(k) < 0) return ids(-1 - entry(k))
    while (k < end) {
      val p = entry(k)
      if (Geom.contains(coords, ringStart(p), ringStart(p + 1), lng, lat)) return ids(p)
      k += 1
    }
    GridIndex.Miss
  }

  def cells: Int = nRows * nCols
  def entries: Int = entry.length
  def interiorCells: Int = entry.count(_ < 0)
  def sizeBytes: Long =
    4L * (cellStart.length + entry.length + ringStart.length + ids.length) + 8L * coords.length

  override def toString: String =
    s"GridIndex(res=$res, cells=$cells, entries=$entries, interior=$interiorCells, bytes=$sizeBytes)"
}

object GridIndex {
  /** The id [[GridIndex.lookup]] returns for a point in no polygon. */
  val Miss: Int = -1
  /** Degrees by which a cell's extent is grown before it is classified. The
    * formula's rounding error on lat/lng degrees is below 1e-13, so every
    * point the formula maps into a cell lies inside its grown extent, and
    * every point of an interior cell lies at least ~Margin from any edge. */
  val Margin: Double = 1e-9

  /** The coarsest resolution whose (square, in degrees) cell fits inside the
    * median polygon's bbox: the first level with interior cells, and a finer
    * grid only multiplies cells. */
  private def resolutionFor(polys: Seq[Geom.Poly]): Int = {
    val sides = polys.map { p => val (a, b, c, d) = p.bbox; math.min(b - a, d - c) }.sorted
    val median = sides(sides.length / 2)
    (0 to Cells.ROW_BITS.toInt - 2).find(r => 180.0 / Cells.rows(r) <= median)
      .getOrElse(Cells.ROW_BITS.toInt - 2)
  }

  def build(polys: IndexedSeq[Geom.Poly]): GridIndex = {
    require(polys.nonEmpty, "no polygons")
    polys.foreach { p =>
      require(p.nVerts >= 3 && p.ring.length % 2 == 0, s"polygon ${p.hydroid}: ring needs >= 3 vertices")
      require(p.hydroid >= 0, s"polygon ${p.hydroid}: ids must be non-negative")
      val (latMin, latMax, lngMin, lngMax) = p.bbox
      require(latMax > latMin && lngMax > lngMin, s"polygon ${p.hydroid}: empty interior")
    }
    val res = resolutionFor(polys)
    val m = Margin
    val boxes = polys.map(_.bbox) // (latMin, latMax, lngMin, lngMax)
    def rowOf(lat: Double) = Cells.latToRow(lat, res)
    def colOf(lng: Double) = Cells.lngToCol(lng, res)
    val row0 = boxes.map(b => rowOf(b._1 - m)).min
    val col0 = boxes.map(b => colOf(b._3 - m)).min
    val nRowsL = boxes.map(b => rowOf(b._2 + m)).max - row0 + 1
    val nColsL = boxes.map(b => colOf(b._4 + m)).max - col0 + 1
    require(nRowsL * nColsL < (1L << 28), s"grid window $nRowsL x $nColsL at res $res too large")
    val nRows = nRowsL.toInt; val nCols = nColsL.toInt

    // candidates: polygons whose margin-grown bbox meets the cell, in input order
    def cellRange(b: (Double, Double, Double, Double)) =
      ((rowOf(b._1 - m) - row0).toInt, (rowOf(b._2 + m) - row0).toInt,
        (colOf(b._3 - m) - col0).toInt, (colOf(b._4 + m) - col0).toInt)
    val candStart = new Array[Int](nRows * nCols + 1)
    boxes.foreach { b =>
      val (r0, r1, c0, c1) = cellRange(b)
      for (r <- r0 to r1; c <- c0 to c1) candStart(r * nCols + c + 1) += 1
    }
    for (c <- 1 to nRows * nCols) candStart(c) += candStart(c - 1)
    val cand = new Array[Int](candStart.last)
    val fill = candStart.clone()
    boxes.indices.foreach { p =>
      val (r0, r1, c0, c1) = cellRange(boxes(p))
      for (r <- r0 to r1; c <- c0 to c1) { val i = r * nCols + c; cand(fill(i)) = p; fill(i) += 1 }
    }

    val cellStart = new Array[Int](nRows * nCols + 1)
    val entry = Array.newBuilder[Int]
    var n = 0
    val pairs = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    val pitch = 180.0 / Cells.rows(res) // degrees, in lat and in lng
    for (r <- 0 until nRows; c <- 0 until nCols) {
      val i = r * nCols + c
      val latLo = (row0 + r) * pitch - 90.0; val latHi = (row0 + r + 1) * pitch - 90.0
      val lngLo = (col0 + c) * pitch - 180.0; val lngHi = (col0 + c + 1) * pitch - 180.0
      val g = (latLo - m, latHi + m, lngLo - m, lngHi + m)
      val (cLat, cLng) = ((latLo + latHi) / 2, (lngLo + lngHi) / 2)
      val cs = (candStart(i) until candStart(i + 1)).map(cand(_))
      val touching = cs.filter(p => edgeTouches(polys(p), g))
      def holdsCentre(p: Int) = Geom.contains(polys(p).ring, cLng, cLat)
      if (touching.isEmpty) {
        cs.filter(holdsCentre) match {
          case Seq() =>
          case Seq(p) => entry += -1 - p; n += 1
          case Seq(a, b, _*) => overlap(polys(a), polys(b))
        }
      } else {
        val kept = cs.filter(p => touching.contains(p) || holdsCentre(p))
        kept.foreach(p => entry += p)
        n += kept.length
        for (a <- kept; b <- kept if a < b && strictlyOverlap(boxes(a), boxes(b))) pairs += ((a, b))
      }
      cellStart(i + 1) = n
    }
    pairs.foreach { case (a, b) => if (overlaps(polys(a), polys(b))) overlap(polys(a), polys(b)) }

    val ringStart = polys.scanLeft(0)(_ + _.ring.length).toArray
    new GridIndex(res, row0, col0, nRows, nCols, cellStart, entry.result(),
      ringStart, polys.flatMap(_.ring).toArray, polys.map(_.hydroid).toArray)
  }

  private def overlap(a: Geom.Poly, b: Geom.Poly): Nothing =
    throw new IllegalArgumentException(
      s"polygons ${a.hydroid} and ${b.hydroid} overlap: a GridIndex needs a polygon partition")

  private def strictlyOverlap(a: (Double, Double, Double, Double), b: (Double, Double, Double, Double)) =
    a._1 < b._2 && b._1 < a._2 && a._3 < b._4 && b._3 < a._4

  /** Does any edge of `p` meet the closed box g = (latMin, latMax,
    * lngMin, lngMax)? Bbox overlap, then the edge's line must not leave all
    * four corners strictly on one side. */
  private def edgeTouches(p: Geom.Poly, g: (Double, Double, Double, Double)): Boolean = {
    val (y0, y1, x0, x1) = g
    edges(p).exists { case (ax, ay, bx, by) =>
      math.max(ax, bx) >= x0 && math.min(ax, bx) <= x1 &&
        math.max(ay, by) >= y0 && math.min(ay, by) <= y1 && {
          val s = Seq((x0, y0), (x1, y0), (x0, y1), (x1, y1))
            .map { case (x, y) => math.signum((bx - ax) * (y - ay) - (by - ay) * (x - ax)) }
          !(s.forall(_ > 0) || s.forall(_ < 0))
        }
    }
  }

  private def edges(p: Geom.Poly): Seq[(Double, Double, Double, Double)] = {
    val n = p.nVerts
    (0 until n).map { i =>
      val j = (i + 1) % n
      (p.ring(2 * i), p.ring(2 * i + 1), p.ring(2 * j), p.ring(2 * j + 1))
    }
  }

  /** Signed distance of (x, y) from the line through edge e. */
  private def side(e: (Double, Double, Double, Double), x: Double, y: Double): Double = {
    val (ax, ay, bx, by) = e
    ((bx - ax) * (y - ay) - (by - ay) * (x - ax)) / math.hypot(bx - ax, by - ay)
  }

  private def distToEdge(e: (Double, Double, Double, Double), x: Double, y: Double): Double = {
    val (ax, ay, bx, by) = e
    val (dx, dy) = (bx - ax, by - ay)
    val t = math.max(0.0, math.min(1.0, ((x - ax) * dx + (y - ay) * dy) / (dx * dx + dy * dy)))
    math.hypot(x - (ax + t * dx), y - (ay + t * dy))
  }

  private def strictlyInside(p: Geom.Poly, x: Double, y: Double): Boolean =
    Geom.contains(p.ring, x, y) && edges(p).forall(distToEdge(_, x, y) > Margin)

  /** A point strictly inside `p`: on the horizontal midline of the widest
    * gap between vertex latitudes, the middle of the widest inside run. */
  private def interiorPoint(p: Geom.Poly): (Double, Double) = {
    val ys = (0 until p.nVerts).map(i => p.ring(2 * i + 1)).distinct.sorted
    val (ya, yb) = ys.zip(ys.tail).maxBy { case (a, b) => b - a }
    val y = (ya + yb) / 2
    val xs = edges(p).collect { case (ax, ay, bx, by) if (ay > y) != (by > y) =>
      ax + (y - ay) * (bx - ax) / (by - ay)
    }.sorted
    val (xa, xb) = xs.grouped(2).collect { case Seq(a, b) => (a, b) }.maxBy { case (a, b) => b - a }
    ((xa + xb) / 2, y)
  }

  /** Interiors of a and b meet (beyond `Margin`): a proper edge crossing, or
    * a vertex, edge midpoint or interior point of one strictly inside the
    * other. */
  private def overlaps(a: Geom.Poly, b: Geom.Poly): Boolean = {
    val (ea, eb) = (edges(a), edges(b))
    def crosses(e: (Double, Double, Double, Double), f: (Double, Double, Double, Double)) = {
      val (s1, s2) = (side(e, f._1, f._2), side(e, f._3, f._4))
      val (s3, s4) = (side(f, e._1, e._2), side(f, e._3, e._4))
      ((s1 > Margin && s2 < -Margin) || (s1 < -Margin && s2 > Margin)) &&
        ((s3 > Margin && s4 < -Margin) || (s3 < -Margin && s4 > Margin))
    }
    def probes(p: Geom.Poly, es: Seq[(Double, Double, Double, Double)]) =
      es.flatMap { case (ax, ay, bx, by) => Seq((ax, ay), ((ax + bx) / 2, (ay + by) / 2)) } :+ interiorPoint(p)
    ea.exists(e => eb.exists(crosses(e, _))) ||
      probes(a, ea).exists { case (x, y) => strictlyInside(b, x, y) } ||
      probes(b, eb).exists { case (x, y) => strictlyInside(a, x, y) }
  }
}
