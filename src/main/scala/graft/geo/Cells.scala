package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** H3-like hierarchical cell index over equirectangular lat/lng, encoded in a
  * single Long — the engine's "raster pixel" analog (SURVEY.md §1.1: raster →
  * cell table; reference rasters are blocked grids, `src/make_rem.py:57-69`).
  *
  * Layout: resolution r gives a 2^r (lat rows) × 2^(r+1) (lng cols) grid.
  * {{{ cell_id = r << 56 | row << 28 | col }}}
  * Parent/child is pure bit arithmetic (row >> 1, col >> 1), k-ring is grid
  * adjacency. All Column forms compose only `org.apache.spark.sql.functions`
  * arithmetic so they stay inside whole-stage codegen (no UDFs on the hot
  * path — mirrors the reference's fused numba kernel,
  * `tools/inundation.py:427-442`).
  *
  * Determinism: every operation is IEEE-754 double +,-,*,/ and floor, so the
  * same bits come out on any engine evaluating the same formula. The DuckDB
  * oracle declares each Column form once in [[graft.OracleSql]], in the same
  * operation order: `cellSql` ([[encodeCol]]), `rowSql` / `colSql`
  * ([[rowOfCol]] / [[colOfCol]]), `cellOfSql` ([[rowCol]] +
  * [[latLngToCellCol]]), `centroidLatSql` / `centroidLngSql`
  * ([[centroidLatCol]] / [[centroidLngCol]]), `parentSql`
  * ([[cellToParentCol]]) and `neighboursCte` ([[neighbourCols]]).
  */
object Cells {
  val RES_BITS = 56L
  val ROW_BITS = 28L

  /** Base ("pixel") resolution used for page tiles: 4096 × 8192 grid,
    * ~0.044° ≈ 5 km at the equator — the raster-pixel analog. */
  val BaseRes = 12
  /** Coarse resolution used for salting / range partitioning (north rule). */
  val CoarseRes = 5

  // ---- Long-side (driver / broadcast-index) codec ----

  def rows(res: Int): Long = 1L << res
  def cols(res: Int): Long = 1L << (res + 1)

  def latToRow(lat: Double, res: Int): Long =
    math.floor((lat + 90.0) / 180.0 * rows(res).toDouble).toLong
  def lngToCol(lng: Double, res: Int): Long =
    math.floor((lng + 180.0) / 360.0 * cols(res).toDouble).toLong

  def encode(res: Int, row: Long, col: Long): Long =
    (res.toLong << RES_BITS) | (row << ROW_BITS) | col

  def latLngToCell(lat: Double, lng: Double, res: Int): Long =
    encode(res, latToRow(lat, res), lngToCol(lng, res))

  def res(cell: Long): Int = (cell >>> RES_BITS).toInt
  def rowOf(cell: Long): Long = (cell >>> ROW_BITS) & ((1L << (RES_BITS - ROW_BITS)) - 1L)
  def colOf(cell: Long): Long = cell & ((1L << ROW_BITS) - 1L)

  def cellToParent(cell: Long, parentRes: Int): Long = {
    val r = res(cell)
    require(parentRes <= r, s"parent res $parentRes must be <= $r")
    val shift = r - parentRes
    encode(parentRes, rowOf(cell) >> shift, colOf(cell) >> shift)
  }

  /** Grid k-ring: all cells within Chebyshev distance k (clamped at lat
    * edges; lng does not wrap — the engine's planar-distance convention). */
  def kRing(cell: Long, k: Int): Array[Long] = {
    val r = res(cell)
    val nr = rows(r); val nc = cols(r)
    val r0 = rowOf(cell); val c0 = colOf(cell)
    val out = Array.newBuilder[Long]
    var dr = -k
    while (dr <= k) {
      val rr = r0 + dr
      if (rr >= 0 && rr < nr) {
        var dc = -k
        while (dc <= k) {
          val cc = c0 + dc
          if (cc >= 0 && cc < nc) out += encode(r, rr, cc)
          dc += 1
        }
      }
      dr += 1
    }
    out.result()
  }

  /** Cells of resolution `res` covering the closed bbox
    * [latMin,latMax]×[lngMin,lngMax] (pass nextDown(max) for half-open). */
  def cover(latMin: Double, latMax: Double, lngMin: Double, lngMax: Double, res: Int): Array[Long] = {
    val r0 = math.max(0L, latToRow(latMin, res))
    val r1 = math.min(rows(res) - 1, latToRow(latMax, res))
    val c0 = math.max(0L, lngToCol(lngMin, res))
    val c1 = math.min(cols(res) - 1, lngToCol(lngMax, res))
    val out = Array.newBuilder[Long]
    var rr = r0
    while (rr <= r1) { var cc = c0; while (cc <= c1) { out += encode(res, rr, cc); cc += 1 }; rr += 1 }
    out.result()
  }

  /** Cell centroid (lat, lng). */
  def centroid(cell: Long): (Double, Double) = {
    val r = res(cell)
    val lat = (rowOf(cell) + 0.5) / rows(r).toDouble * 180.0 - 90.0
    val lng = (colOf(cell) + 0.5) / cols(r).toDouble * 360.0 - 180.0
    (lat, lng)
  }

  // ---- Column-side codec (codegen'd Catalyst expressions, no UDF) ----

  /** Cell id of resolution `res` at (row, col) — the Column form of
    * [[encode]] (exact long arithmetic; mirrored by `OracleSql.cellSql`). */
  def encodeCol(res: Int, row: Column, col: Column): Column =
    lit(res.toLong << RES_BITS) + row * lit(1L << ROW_BITS) + col

  /** Row / column of a cell id Column — [[rowOf]] / [[colOf]] (mirrored by
    * `OracleSql.rowSql` / `colSql`). */
  def rowOfCol(cell: Column): Column =
    shiftright(cell, ROW_BITS.toInt).bitwiseAND(lit((1L << (RES_BITS - ROW_BITS)) - 1L))
  def colOfCol(cell: Column): Column = cell.bitwiseAND(lit((1L << ROW_BITS) - 1L))

  /** Row and column of resolution `resolution` holding (lat, lng):
    * row = floor((lat + 90.0) / 180.0 * 2^res), col = floor((lng + 180.0) /
    * 360.0 * 2^(res+1)) — the operation order of `OracleSql.cellOfSql`. */
  def rowCol(lat: Column, lng: Column, resolution: Int): (Column, Column) = (
    floor((lat + lit(90.0)) / lit(180.0) * lit(rows(resolution).toDouble)).cast("long"),
    floor((lng + lit(180.0)) / lit(360.0) * lit(cols(resolution).toDouble)).cast("long")
  )

  def latLngToCellCol(lat: Column, lng: Column, resolution: Int): Column = {
    val (r, c) = rowCol(lat, lng, resolution)
    encodeCol(resolution, r, c)
  }

  /** Cell-centroid latitude/longitude as Columns (codegen'd; mirrored by
    * `OracleSql.centroidLatSql` / `centroidLngSql`). Centroids are odd
    * multiples of half the cell pitch, so they never land on integer-degree
    * polygon edges. */
  def centroidLatCol(cell: Column, resolution: Int): Column =
    (rowOfCol(cell) + lit(0.5)) / lit(rows(resolution).toDouble) * lit(180.0) - lit(90.0)
  def centroidLngCol(cell: Column, resolution: Int): Column =
    (colOfCol(cell) + lit(0.5)) / lit(cols(resolution).toDouble) * lit(360.0) - lit(180.0)

  /** Exact long bit arithmetic — cell ids exceed 2^53, so no double math here. */
  def cellToParentCol(cell: Column, childRes: Int, parentRes: Int): Column = {
    val shift = childRes - parentRes
    encodeCol(parentRes, shiftright(rowOfCol(cell), shift), shiftright(colOfCol(cell), shift))
  }

  /** The 4-neighbour ids (row ± 1, then col ± 1) of a resolution-`res` cell;
    * off-grid ids (row −1 / 2^res, col −1 / 2^(res+1)) match no real cell. */
  def neighbourCols(cell: Column, res: Int): Seq[Column] = {
    val row = rowOfCol(cell); val c = colOfCol(cell)
    Seq(encodeCol(res, row + 1, c), encodeCol(res, row - 1, c),
      encodeCol(res, row, c + 1), encodeCol(res, row, c - 1))
  }
}
