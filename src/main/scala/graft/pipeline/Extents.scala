package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.geo.Cells

final case class WetCell(clazz: Int, cell: Long)
final case class ExtentComp(hydroid: Int, comp: Long, n_cells: Long)

/** Inundation-extent dissolve (q58) — the raster→vector output step of
  * `tools/mosaic_inundation.py:153-188` (gdal polygonize + dissolve): wet
  * mosaic cells grouped into per-catchment extents with
  *  - cell count and nominal area,
  *  - bbox of cell centroids (the extent geometry a GIS consumer gets),
  *  - boundary-cell count: cells with fewer than 4 same-extent wet
  *    4-neighbors — the marching-squares-style perimeter measure that a full
  *    polygon tracer would walk.
  *
  * Scale shape: one self-equi-join of the wet-cell set against its exploded
  * neighbor ids (linear fan-out ×4), then two hash aggregations — no
  * all-pairs, no driver-side geometry. Off-grid neighbor ids (row −1 / 4096,
  * col −1 / 8192) can never match a real wet cell, so edges fall out as
  * boundary cells without special-casing.
  */
object Extents {

  /** mosaic (cell, clazz, …) → one row per wet extent (clazz > 0 ⇔ wet,
    * clazz = hydroid by the sign convention of `tools/inundation.py:350-359`). */
  def dissolve(mosaic: DataFrame): DataFrame = {
    val wet = mosaic.filter(col("clazz") > 0).select(col("cell"), col("clazz"))
    val nbr = wet.select(col("cell"), col("clazz"),
      explode(array(Cells.neighbourCols(col("cell"), Cells.BaseRes): _*)).as("ncell"))
    val wetN = wet.select(col("cell").as("ncell"), col("clazz"), lit(1).as("hit"))
    val deg = nbr.join(wetN, Seq("ncell", "clazz"), "left")
      .groupBy(col("cell"), col("clazz"))
      .agg(count(col("hit")).as("nn"))
    deg
      .withColumn("clat", Cells.centroidLatCol(col("cell"), Cells.BaseRes))
      .withColumn("clng", Cells.centroidLngCol(col("cell"), Cells.BaseRes))
      .groupBy(col("clazz").as("hydroid"))
      .agg(count(lit(1)).as("n_cells"),
        count(when(col("nn") < 4, 1)).as("n_boundary"),
        min(col("clat")).as("lat_min"), max(col("clat")).as("lat_max"),
        min(col("clng")).as("lng_min"), max(col("clng")).as("lng_max"),
        (count(lit(1)) * (lit(180.0) / lit(4096.0)) * (lit(360.0) / lit(8192.0)))
          .as("area_deg2"))
  }

  /** Connected-component labeling of each extent's wet cells (4-adjacency) —
    * polygonize proper (q64): each disjoint wet patch becomes one labeled
    * component (label = min cell id, deterministic), the exact unit a GIS
    * polygon tracer walks. Per-extent in-memory union-find kernel via
    * flatMapGroups — the same per-group-kernel pattern as the stream-network
    * traversals, valid because extents are catchment-bounded (≤ ~1,600 base
    * cells each); cross-extent parallelism is the HUC-style scale unit.
    * Oracle: recursive-CTE min-label fixpoint over the neighbor edges. */
  def components(mosaic: DataFrame): DataFrame = {
    import mosaic.sparkSession.implicits._
    val wet = mosaic.filter(col("clazz") > 0)
      .select(col("clazz").cast("int").as("clazz"), col("cell")).as[WetCell]
    val step = 1L << Cells.ROW_BITS
    wet.groupByKey(_.clazz)
      .flatMapGroups { (clazz, it) =>
        val cells = it.map(_.cell).toArray
        val idx = cells.zipWithIndex.toMap
        val parent = Array.tabulate(cells.length)(identity)
        def find(x: Int): Int = {
          var r = x; while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        cells.indices.foreach { i =>
          val c = cells(i)
          Seq(c + step, c - step, c + 1, c - 1).foreach { n =>
            idx.get(n).foreach { j =>
              val ri = find(i); val rj = find(j)
              if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
            }
          }
        }
        val minId = scala.collection.mutable.Map.empty[Int, Long]
        val size = scala.collection.mutable.Map.empty[Int, Long]
        cells.indices.foreach { i =>
          val r = find(i)
          minId(r) = math.min(minId.getOrElse(r, Long.MaxValue), cells(i))
          size(r) = size.getOrElse(r, 0L) + 1L
        }
        minId.keys.toSeq.sorted.map(r => ExtentComp(clazz, minId(r), size(r))).iterator
      }
      .toDF("hydroid", "comp", "n_cells")
  }

  /** GeoJSON sink for dissolved extents — the downstream-GIS-facing output
    * (`tools/mosaic_inundation.py` writes polygons; this writes one GeoJSON
    * Feature per extent, bbox geometry, as JSON-lines text). Built from
    * `to_json(struct(...))` — codegen'd, no driver-side serialization; the
    * text sink writes one part file per partition like any other sink. */
  def writeGeoJson(extents: DataFrame, path: String): Unit = {
    def pt(lng: org.apache.spark.sql.Column, lat: org.apache.spark.sql.Column) = array(lng, lat)
    val ring = array(
      pt(col("lng_min"), col("lat_min")), pt(col("lng_max"), col("lat_min")),
      pt(col("lng_max"), col("lat_max")), pt(col("lng_min"), col("lat_max")),
      pt(col("lng_min"), col("lat_min")))
    extents.select(to_json(struct(
        lit("Feature").as("type"),
        struct(lit("Polygon").as("type"), array(ring).as("coordinates")).as("geometry"),
        struct(col("hydroid"), col("n_cells"), col("n_boundary"), col("area_deg2"))
          .as("properties"))).as("value"))
      .write.mode("overwrite").text(path)
  }
}
