package graft.geo

/** Planar geometry kernels for the broadcast catchment-polygon sets
  * (reference: shapely PIP inside `gpd.sjoin`, `src/usgs_gage_crosswalk.py:89-94`;
  * rasterize-by-polygon `gdal_rasterize -a HydroID`,
  * `src/delineate_hydros_and_produce_HAND.sh:187-190`).
  *
  * Convention: crossing-number test with half-open edges — for an axis-aligned
  * rectangle this yields membership in [xmin, xmax) × [ymin, ymax), i.e. a
  * point on the lower/left boundary belongs to the cell, matching integer
  * `floor` tiling semantics exactly (bit-compatible with the SQL oracle).
  */
object Geom {

  /** Ring as packed coords [lng0, lat0, lng1, lat1, ...]; closed implicitly. */
  final case class Poly(hydroid: Int, ring: Array[Double]) {
    def nVerts: Int = ring.length / 2
    def bbox: (Double, Double, Double, Double) = {
      var lngMin = Double.MaxValue; var lngMax = -Double.MaxValue
      var latMin = Double.MaxValue; var latMax = -Double.MaxValue
      var i = 0
      while (i < ring.length) {
        val x = ring(i); val y = ring(i + 1)
        if (x < lngMin) lngMin = x; if (x > lngMax) lngMax = x
        if (y < latMin) latMin = y; if (y > latMax) latMax = y
        i += 2
      }
      (latMin, latMax, lngMin, lngMax)
    }
  }

  /** Crossing-number point-in-polygon; x = lng, y = lat.
    * Half-open: includes lower/left boundary, excludes upper/right (for
    * convex axis-aligned rings). */
  def contains(ring: Array[Double], lng: Double, lat: Double): Boolean =
    contains(ring, 0, ring.length, lng, lat)

  /** [[contains]] over the ring packed in `coords[from until until]`. */
  def contains(coords: Array[Double], from: Int, until: Int, lng: Double, lat: Double): Boolean = {
    var inside = false
    var i = from
    var j = until - 2
    while (i < until) {
      val xi = coords(i); val yi = coords(i + 1)
      val xj = coords(j); val yj = coords(j + 1)
      if ((yi > lat) != (yj > lat)) {
        val xCross = xi + (lat - yi) * (xj - xi) / (yj - yi)
        if (lng < xCross) inside = !inside
      }
      j = i
      i += 2
    }
    inside
  }

  /** Squared planar distance in degrees (no lng wrap — engine convention). */
  def dist2(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val dLat = lat1 - lat2; val dLng = lng1 - lng2
    dLat * dLat + dLng * dLng
  }

  /** Great-circle distance (km) — provided for production use; the
    * oracle-checked paths use dist2 for bit-compatible arithmetic. */
  def haversineKm(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val R = 6371.0088
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = math.toRadians(lat2 - lat1); val dl = math.toRadians(lng2 - lng1)
    val a = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2 * R * math.asin(math.min(1.0, math.sqrt(a)))
  }
}
