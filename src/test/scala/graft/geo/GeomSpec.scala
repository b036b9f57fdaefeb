package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import graft.synth.Synth

class GeomSpec extends AnyFunSuite {

  test("PIP half-open semantics on rectangles matches floor-grid assignment") {
    val polys = Synth.catchmentList
    val byId = polys.map(p => p.hydroid -> p).toMap
    val rng = new scala.util.Random(7)
    // random points + exact boundary points (corner ownership)
    val pts = (1 to 5000).map(_ => (rng.nextDouble() * 159.998 - 79.999, rng.nextDouble() * 359.98 - 179.99)) ++
      Seq((-48.75, -180.0), (-48.75, -177.5), (0.0, 0.0), (1.25, 2.5), (40.0, -74.0),
        (78.75, 177.5), (-80.0, -180.0), (41.25, -71.999))
    for ((lat, lng) <- pts) {
      val expect = Synth.hydroidOf(lat, lng)
      val got = polys.filter(p => Geom.contains(p.ring, lng, lat)).map(_.hydroid)
      assert(got == Seq(expect), s"($lat,$lng): pip=$got floor=$expect")
      assert(Geom.contains(byId(expect).ring, lng, lat))
    }
  }

  test("a 4-cell shared corner is owned by exactly the cell whose min corner it is") {
    val lat = 1.25; val lng = 2.5 // exact corner of catchments (72,72)..(73,73)
    val h = Synth.hydroidOf(lat, lng)
    assert(h == 73 * 144 + 73)
    val owners = Synth.catchmentList.filter(p => Geom.contains(p.ring, lng, lat))
    assert(owners.map(_.hydroid) == Seq(h))
  }

  /** The reference the grid index must equal: a scan of every polygon in
    * order, first `Geom.contains` wins. */
  private def bruteForce(polys: IndexedSeq[Geom.Poly], lng: Double, lat: Double): Int =
    polys.find(p => Geom.contains(p.ring, lng, lat)).fold(GridIndex.Miss)(_.hydroid)

  private def ulps(x: Double): Seq[Double] = Seq(math.nextDown(x), x, math.nextUp(x))

  private def assertMatches(idx: GridIndex, polys: IndexedSeq[Geom.Poly],
      pts: Iterable[(Double, Double)]): Unit =
    for ((lat, lng) <- pts) {
      val want = bruteForce(polys, lng, lat)
      assert(idx.lookup(lng, lat) == want, s"($lat, $lng): index=${idx.lookup(lng, lat)} scan=$want")
    }

  /** Adversarial points: every cell edge of the index's grid inside
    * [latLo, latHi] × [lngLo, lngHi], at ±1 ulp, paired with random
    * coordinates. */
  private def cellEdgePoints(idx: GridIndex, rng: scala.util.Random, latLo: Double, latHi: Double,
      lngLo: Double, lngHi: Double): Seq[(Double, Double)] = {
    val pitch = 180.0 / Cells.rows(idx.res)
    def rnd(lo: Double, hi: Double) = lo + rng.nextDouble() * (hi - lo)
    val latEdges = (0 to Cells.rows(idx.res).toInt).map(_ * pitch - 90.0).filter(e => e >= latLo && e <= latHi)
    val lngEdges = (0 to Cells.cols(idx.res).toInt).map(_ * pitch - 180.0).filter(e => e >= lngLo && e <= lngHi)
    latEdges.flatMap(e => ulps(e).map(la => (la, rnd(lngLo, lngHi)))) ++
      lngEdges.flatMap(e => ulps(e).map(ln => (rnd(latLo, latHi), ln)))
  }

  test("grid index == first-match scan over the catchments (random, edges, corners, cell edges, hotspot)") {
    val polys = Synth.catchmentList.map(c => Geom.Poly(c.hydroid, c.ring))
    val idx = GridIndex.build(polys)
    assert(idx.res == 8, idx.toString)
    assert(idx.interiorCells > 0, idx.toString)
    val rng = new scala.util.Random(17)
    def rnd(lo: Double, hi: Double) = lo + rng.nextDouble() * (hi - lo)
    val random = Seq.fill(4000)((rnd(-90, 90), rnd(-180, 180)))
    val catLatEdges = (0 to Synth.CatRows).map(_ * Synth.CatH - 90.0)
    val catLngEdges = (0 to Synth.CatCols).map(_ * Synth.CatW - 180.0)
    val edges = catLatEdges.flatMap(e => ulps(e).map(la => (la, rnd(-180, 180)))) ++
      catLngEdges.flatMap(e => ulps(e).map(ln => (rnd(-90, 90), ln)))
    val corners = Seq.fill(300)((catLatEdges(rng.nextInt(catLatEdges.length)),
      catLngEdges(rng.nextInt(catLngEdges.length))))
      .flatMap { case (la, ln) => for (a <- ulps(la); b <- ulps(ln)) yield (a, b) }
    val hotspot = Seq.fill(1500)((rnd(40.0, 42.0), rnd(-74.0, -72.0))) ++
      (for (a <- ulps(40.0) ++ ulps(42.0); b <- ulps(-74.0) ++ ulps(-72.0)) yield (a, b))
    assertMatches(idx, polys,
      random ++ edges ++ corners ++ cellEdgePoints(idx, rng, -90, 90, -180, 180) ++ hotspot)

    // the exclusion masks: a partition of ~1.7 % of the globe, so most
    // probes miss every polygon
    val masks = Synth.maskList.map(m => Geom.Poly(m.mask_id, m.ring))
    val maskIdx = GridIndex.build(masks)
    val maskProbes = Seq.fill(4000)((rnd(-90, 90), rnd(-180, 180)))
    val maskEdges = masks.flatMap { p =>
      val (latMin, latMax, lngMin, lngMax) = p.bbox
      Seq(latMin, latMax).flatMap(e => ulps(e).map(la => (la, rnd(lngMin - 1, lngMax + 1)))) ++
        Seq(lngMin, lngMax).flatMap(e => ulps(e).map(ln => (rnd(latMin - 1, latMax + 1), ln))) ++
        (for (la <- Seq(latMin, latMax); ln <- Seq(lngMin, lngMax); a <- ulps(la); b <- ulps(ln)) yield (a, b))
    }
    assertMatches(maskIdx, masks,
      maskProbes ++ maskEdges ++ cellEdgePoints(maskIdx, rng, -90, 90, -180, 180))
    val misses = maskProbes.count { case (la, ln) => maskIdx.lookup(ln, la) == GridIndex.Miss }
    assert(misses > maskProbes.size * 9 / 10 && misses < maskProbes.size, s"$misses misses, $maskIdx")
  }

  test("grid index == first-match scan over a triangle partition (boundary-only cells)") {
    // a 16 × 16 lattice over [10, 26] × [-40, -8] with dyadic jitter on the
    // inner vertices; each quad splits into two triangles along alternating
    // diagonals, so most edges are slanted and many cells are boundary-only
    val rng = new scala.util.Random(5)
    val n = 16
    val vx = Array.tabulate(n + 1, n + 1) { (i, j) =>
      -40.0 + 2.0 * j + (if (i > 0 && i < n && j > 0 && j < n) (rng.nextInt(9) - 4) / 8.0 else 0.0) }
    val vy = Array.tabulate(n + 1, n + 1) { (i, j) =>
      10.0 + 1.0 * i + (if (i > 0 && i < n && j > 0 && j < n) (rng.nextInt(5) - 2) / 16.0 else 0.0) }
    def v(i: Int, j: Int) = Seq(vx(i)(j), vy(i)(j))
    val tris = (for (i <- 0 until n; j <- 0 until n) yield {
      val (a, b, c, d) = (v(i, j), v(i, j + 1), v(i + 1, j + 1), v(i + 1, j))
      if ((i + j) % 2 == 0) Seq(a ++ b ++ c, a ++ c ++ d) else Seq(a ++ b ++ d, b ++ c ++ d)
    }).flatten.zipWithIndex.map { case (r, k) => Geom.Poly(k, r.toArray) }
    val idx = GridIndex.build(tris)
    def rnd(lo: Double, hi: Double) = lo + rng.nextDouble() * (hi - lo)
    val random = Seq.fill(6000)((rnd(9.5, 26.5), rnd(-40.5, -7.5)))
    val vertices = (for (i <- 0 to n; j <- 0 to n) yield (vy(i)(j), vx(i)(j)))
      .flatMap { case (la, ln) => for (a <- ulps(la); b <- ulps(ln)) yield (a, b) }
    val midpoints = tris.flatMap { t =>
      (0 until 3).map(k => ((t.ring(2 * k + 1) + t.ring((2 * k + 3) % 6)) / 2,
        (t.ring(2 * k) + t.ring((2 * k + 2) % 6)) / 2))
    }
    assertMatches(idx, tris,
      random ++ vertices ++ midpoints ++ cellEdgePoints(idx, rng, 9.5, 26.5, -40.5, -7.5))
    assert(idx.entries > idx.interiorCells, idx.toString)
  }

  test("grid index build rejects overlapping polygons, accepts shared edges") {
    def rect(id: Int, x0: Double, y0: Double, x1: Double, y1: Double) =
      Geom.Poly(id, Array(x0, y0, x1, y0, x1, y1, x0, y1))
    // adjacent rectangles and the two halves of a split square: shared edges
    val tiles = IndexedSeq(rect(0, 0, 0, 2, 1), rect(1, 2, 0, 4, 1), rect(2, 0, 1, 4, 2),
      Geom.Poly(3, Array(4.0, 0, 6, 0, 6, 2)), Geom.Poly(4, Array(4.0, 0, 6, 2, 4, 2)))
    GridIndex.build(tiles)
    val overlapping = Seq(
      tiles :+ rect(5, 1, 0.5, 3, 1.5),                   // corners strictly inside others
      tiles :+ rect(5, 0, 0, 2, 1),                       // a duplicate tile
      tiles :+ rect(5, 0.5, 0.25, 1.5, 0.75),             // nested, no edge contact
      tiles :+ Geom.Poly(5, Array(4.0, 0, 6, 0, 4, 2)))   // a triangle across the split diagonal
    overlapping.foreach { polys =>
      val e = intercept[IllegalArgumentException](GridIndex.build(polys))
      assert(e.getMessage.contains("overlap"), e.getMessage)
    }
    // a flat ring has no interior to index
    intercept[IllegalArgumentException](GridIndex.build(tiles :+ Geom.Poly(5, Array(1.0, 0.5, 2, 0.5, 3, 0.5))))
  }

  test("dist2 and haversine are symmetric and non-negative") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 500) {
      val (a, b, c, d) = (rng.nextDouble() * 170 - 85, rng.nextDouble() * 350 - 175,
        rng.nextDouble() * 170 - 85, rng.nextDouble() * 350 - 175)
      assert(Geom.dist2(a, b, c, d) == Geom.dist2(c, d, a, b))
      assert(Geom.dist2(a, b, c, d) >= 0)
      assert(math.abs(Geom.haversineKm(a, b, c, d) - Geom.haversineKm(c, d, a, b)) < 1e-9)
      assert(Geom.haversineKm(a, b, a, b) == 0.0)
    }
  }
}
