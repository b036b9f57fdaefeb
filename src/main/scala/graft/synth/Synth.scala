package graft.synth

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.geo.{Cells, Geom}

/** Deterministic synthesis of the graft's geospatial world (FIXTURES.md) from
  * the driver's parquet tables — no external data, no RNG, pure integer-hash
  * arithmetic so the DuckDB oracle reproduces every value bit-for-bit.
  *
  * World model (reference analog in parens — SURVEY.md §1.4):
  *  - points   = web pages geocoded to lat/lng   (raster pixels / gage points)
  *  - grid catchments 1.25° × 2.5°, hydroid = row*144+col  (NWM catchments,
  *    `gw_catchments_reaches_filtered_addedAttributes_*.gpkg`)
  *  - HUC8 = 8×8 block of catchments, 10° × 20°  (WBD HUC8 polygons)
  *  - hydrotable: 84 stage knots per catchment, Manning-like monotone rating
  *    curve (`config/params_template.env:17-19`, `src/add_crosswalk.py:249-261`)
  *  - forecast: one discharge per feature_id (`tools/inundation.py:596-606`)
  *
  * A ~20 % "hotspot" of points lands in a 2°×2° box (dense-HUC skew analog,
  * `src/derive_level_paths.py:62-71`) to exercise salting/AQE.
  */
object Synth {

  // Grid constants — all dyadic or small-decimal so corner coords are exact.
  val CatRows = 144; val CatCols = 144
  val CatH = 1.25; val CatW = 2.5
  val HucCatRows = 8 // catchments per HUC edge
  val HucCols = 18

  // --------------------------------------------------------- driver tables

  /** The schema of each driver table (`<sfDir>/<name>.parquet`): the types
    * Spark infers from the files' footers, every field nullable. A read with
    * a declared schema plans without the footer-reading job an inferring
    * read launches on every call. */
  val TableSchemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** Driver table `name` of the scale-factor directory `sfDir`, read with
    * its [[TableSchemas]] entry. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(TableSchemas(name)).parquet(s"$sfDir/$name.parquet")

  // ---------------------------------------------------------------- points

  /** Shared geocode formulas. `pid` must be a non-negative BIGINT column.
    * The oracle's twins are `OracleSql.latSql` / `lngSql`. */
  def latCol(pid: Column): Column =
    when(pid % 5 === 0, lit(40.0) + ((pid * 131 + 17) % 2000) / lit(1000.0))
      .otherwise(((pid * 48271 + 11) % 160000) / lit(1000.0) - 80.0)

  def lngCol(pid: Column): Column =
    when(pid % 5 === 0, lit(-74.0) + ((pid * 137 + 29) % 2000) / lit(1000.0))
      .otherwise(((pid * 69621 + 7) % 360000) / lit(1000.0) - 180.0)

  def handCol(pid: Column): Column = ((pid * 97 + 13) % 5000) / lit(1000.0)

  /** Geocoded point table from `lineitem` (the large driver table):
    * pid = l_orderkey * 8 + l_linenumber (unique). Columns:
    * (pid, lat, lng, hand, cell, ccell). */
  def points(spark: SparkSession, sfDir: String): DataFrame = {
    val li = lineitem(spark, sfDir)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("pid"))
    withGeo(li)
  }

  /** The driver's `lineitem` table (the large one). */
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")

  /** Pages table per BASELINE.json input_hint, from `documents`:
    * (url, warc_ts, html, text, lang) + geocode. `text` is a byte-identical
    * passthrough of the source column (the invariant). */
  def pages(spark: SparkSession, sfDir: String): DataFrame = {
    val d = table(spark, sfDir, "documents")
    withGeo(d.select(
      col("doc_id").cast("long").as("pid"),
      concat(lit("https://"), col("source"), lit(".example.com/doc/"), col("doc_id")).as("url"),
      timestamp_seconds(lit(1700000000L) + col("doc_id") * 37).as("warc_ts"),
      encode(col("text"), "UTF-8").as("html"),
      col("text"),
      col("lang")))
  }

  /** [[corpus]] clone ids start here; the documents' own ids lie below. */
  val BaseDocs = 1000000L

  /** A [[corpus]] row is an original document, not a clone. */
  def isBaseDoc(docId: Column): Column = docId < BaseDocs

  /** Web-text corpus for the dedup/quality operators: documents plus
    * deterministic exact clones (every 40th doc, ids + 2·[[BaseDocs]]) and
    * near-clones (every 50th, last 10 chars truncated, ids + [[BaseDocs]])
    * — the synthetic duplicate structure the dedup family must find. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("lang"))
    val exact = d.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 2 * BaseDocs).as("doc_id"), col("text"), col("lang"))
    val near = d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + BaseDocs).as("doc_id"),
        expr("substring(text, 1, length(text) - 10)").as("text"), col("lang"))
    d.unionByName(exact).unionByName(near)
  }

  /** Attach lat/lng/hand/cell/ccell to any DF with a `pid` BIGINT column.
    * cell/ccell are wrapped in coalesce(·, -1) to make them NON-NULLABLE:
    * otherwise the equi-join on ccell injects an `isnotnull(ccell)` filter at
    * the scan that re-evaluates the whole geocode chain a second time per row
    * (visible in PLANS.md before this change). Values are never null. */
  def withGeo(df: DataFrame): DataFrame = {
    val withLatLng = df
      .withColumn("lat", latCol(col("pid")))
      .withColumn("lng", lngCol(col("pid")))
    withLatLng
      .withColumn("hand", handCol(col("pid")))
      .withColumn("cell",
        coalesce(Cells.latLngToCellCol(col("lat"), col("lng"), Cells.BaseRes), lit(-1L)))
      .withColumn("ccell",
        coalesce(Cells.latLngToCellCol(col("lat"), col("lng"), Cells.CoarseRes), lit(-1L)))
  }

  // ------------------------------------------------------------ catchments

  /** The catchment universe: one BIGINT `hydroid` per catchment. */
  def hydroids(spark: SparkSession): DataFrame =
    spark.range(0, (CatRows * CatCols).toLong).select(col("id").as("hydroid"))

  /** feature_id = hydroid + FeatureIdOffset (`src/add_crosswalk.py`). */
  val FeatureIdOffset = 1000000L

  /** Derived attributes for catchment k (0..20735); Column twins follow. */
  def hydroidOf(lat: Double, lng: Double): Int = {
    val r = math.floor((lat + 90.0) / CatH).toInt
    val c = math.floor((lng + 180.0) / CatW).toInt
    r * CatCols + c
  }
  def featureIdOf(hydroid: Int): Long = FeatureIdOffset + hydroid
  def hydroidOf(featureId: Long): Long = featureId - FeatureIdOffset
  def lakeIdOf(hydroid: Int): Int = if (hydroid % 97 == 0) hydroid else -999
  def orderOf(hydroid: Int): Int = 1 + hydroid % 8
  def isGage(hydroid: Int): Boolean = hydroid % 199 == 0

  def featureIdOf(hydroid: Column): Column = hydroid + FeatureIdOffset
  def hydroidOf(featureId: Column): Column = featureId - FeatureIdOffset
  /** Waterbody (lake) catchment: [[lakeIdOf]] is its own id. */
  def isLake(hydroid: Column): Column = hydroid % 97 === 0
  def lakeIdOf(hydroid: Column): Column =
    when(isLake(hydroid), hydroid.cast("int")).otherwise(lit(-999))
  def orderOf(hydroid: Column): Column = (hydroid % 8 + 1).cast("int")
  def isGage(hydroid: Column): Column = hydroid % 199 === 0
  def hucIdxOf(hydroid: Int): Int = {
    val r = hydroid / CatCols; val c = hydroid % CatCols
    (r / HucCatRows) * HucCols + (c / HucCatRows)
  }
  def huc8Of(hydroid: Int): String = f"${hucIdxOf(hydroid)}%08d"
  def catRowOf(hydroid: Column): Column = floor(hydroid / CatCols)
  def catColOf(hydroid: Column): Column = hydroid % CatCols
  def hucIdxOf(hydroid: Column): Column =
    floor(catRowOf(hydroid) / HucCatRows) * HucCols + floor(catColOf(hydroid) / HucCatRows)
  def huc8Of(hydroid: Column): Column = lpad(hucIdxOf(hydroid).cast("long").cast("string"), 8, "0")
  /** Column twins of [[catchmentList]]'s centroid `lat_c`/`lng_c`. */
  def latCOf(hydroid: Column): Column =
    (catRowOf(hydroid).cast("long") + lit(0.5)) * lit(CatH) - lit(90.0)
  def lngCOf(hydroid: Column): Column = (catColOf(hydroid) + lit(0.5)) * lit(CatW) - lit(180.0)

  /** The synthetic gage set (hydroid INT, lat_c, lng_c): the [[isGage]]
    * catchments at their centroids. Oracle twin: `HydroQueries.gageCentroids`. */
  def gages(spark: SparkSession): DataFrame = {
    val h = col("hydroid")
    hydroids(spark).filter(isGage(h))
      .select(h.cast("int").as("hydroid"), latCOf(h).as("lat_c"), lngCOf(h).as("lng_c"))
  }

  final case class Catchment(
      hydroid: Int, feature_id: Long, huc8: String, lake_id: Int, order_ : Int,
      lat_c: Double, lng_c: Double, ring: Array[Double])

  /** Driver-side catchment polygon list (~20736 rows ≈ 3 MB — the
    * NWM-catchment analog), read by driver-side index builders only; tables
    * of catchment attributes are closed forms over [[hydroids]]. */
  lazy val catchmentList: IndexedSeq[Catchment] =
    for (k <- 0 until CatRows * CatCols) yield {
      val r = k / CatCols; val c = k % CatCols
      val latMin = r * CatH - 90.0; val latMax = (r + 1) * CatH - 90.0
      val lngMin = c * CatW - 180.0; val lngMax = (c + 1) * CatW - 180.0
      Catchment(
        hydroid = k, feature_id = featureIdOf(k), huc8 = huc8Of(k),
        lake_id = lakeIdOf(k), order_ = orderOf(k),
        lat_c = (r + 0.5) * CatH - 90.0, lng_c = (c + 0.5) * CatW - 180.0,
        // closed ring, CCW, packed [lng, lat, ...]
        ring = Array(lngMin, latMin, lngMax, latMin, lngMax, latMax, lngMin, latMax))
    }

  /** (ccell, catchment…) cover table: each polygon exploded to the CoarseRes
    * cells its bbox intersects — the cell-keyed side of the q68 polygon
    * overlay. (Point assignment uses the grid index of
    * [[graft.ops.SpatialJoin]] instead.) */
  def catchmentCover(spark: SparkSession): DataFrame = {
    import spark.implicits._
    catchmentList.flatMap { p =>
      val poly = Geom.Poly(p.hydroid, p.ring)
      val (latMin, latMax, lngMin, lngMax) = poly.bbox
      // half-open bbox: shrink the max corner so a polygon ending exactly on
      // a cell boundary doesn't claim the next cell
      Cells.cover(latMin, math.nextDown(latMax), lngMin, math.nextDown(lngMax), Cells.CoarseRes)
        .map(cc => (cc, p.hydroid, p.feature_id, p.huc8, p.lake_id, p.order_, p.ring))
    }.toDF("ccell", "hydroid", "feature_id", "huc8", "lake_id", "order_", "ring")
  }

  // ------------------------------------------------------- evaluation masks

  final case class MaskPoly(mask_id: Int, ring: Array[Double])

  /** Exclusion mask polygons for the evaluation lifecycle — the analog of the
    * reference's levee/waterbody exclusion layers
    * (`tools_shared_functions.py:457-509`): 40 deterministic integer-degree
    * rectangles (~1.7 % of the globe). Integer-degree edges + the cell-grid's
    * dyadic centroids mean no centroid ever lands ON a mask boundary, so
    * ray-cast containment and the oracle's closed-form bounds compare agree
    * exactly. Their interiors are pairwise disjoint, so they index as a
    * partition ([[graft.ops.SpatialJoin.maskIndex]]). */
  lazy val maskList: IndexedSeq[MaskPoly] =
    for (k <- 0 until 40) yield {
      val latMin = ((k * 37 + 5) % 150) - 85.0
      val latMax = latMin + (3 + k % 4)
      val lngMin = ((k * 73 + 11) % 330) - 175.0
      val lngMax = lngMin + (4 + k % 5)
      MaskPoly(k, Array(lngMin, latMin, lngMax, latMin, lngMax, latMax, lngMin, latMax))
    }

  /** (ccell, mask_id, ring) cover table (~240 rows) — the cell-keyed mask
    * side of the q68 polygon overlay. (Point membership uses the mask grid
    * index of [[graft.ops.SpatialJoin]] instead.) */
  def maskCover(spark: SparkSession): DataFrame = {
    import spark.implicits._
    maskList.flatMap { p =>
      val poly = Geom.Poly(p.mask_id, p.ring)
      val (latMin, latMax, lngMin, lngMax) = poly.bbox
      Cells.cover(latMin, math.nextDown(latMax), lngMin, math.nextDown(lngMax), Cells.CoarseRes)
        .map(cc => (cc, p.mask_id, p.ring))
    }.toDF("ccell", "mask_id", "ring")
  }

  // ---------------------------------------------------- hydrotable + forecast

  val StageKnots = 84
  val StageStep = 0.3048

  /** Knot `i`'s stage: [[hydrotable]]'s `stage` in driver arithmetic. */
  def stageOf(i: Int): Double = i.toDouble * StageStep

  /** Each row of `sites` × the knots `i` < [[StageKnots]] at their `stage`. */
  def stageKnots(sites: DataFrame): DataFrame =
    sites
      .withColumn("i", explode(sequence(lit(0), lit(StageKnots - 1))))
      .withColumn("stage", col("i") * lit(StageStep))

  /** Catchment `hydroid`'s discharge at `stage`: [[hydrotable]]'s
    * `discharge_cms` in driver arithmetic, operation for operation, so the
    * two agree bit for bit (spec-asserted over every row). */
  def dischargeOf(hydroid: Long, stage: Double): Double =
    (hydroid % 7 + 1).toDouble * stage + ((hydroid % 5).toDouble * 0.5 + 0.5) * stage * stage

  /** hydrotable: 84 (stage, discharge) knots per catchment; discharge is the
    * strictly-monotone synthetic rating curve
    *   q(s) = (1 + h%7)·s + (0.5 + (h%5)·0.5)·s²
    * (Manning-shaped: linear + quadratic term; `src/add_crosswalk.py:249-261`).
    * Its driver-side twin ([[stageOf]], [[dischargeOf]]) builds the engine's
    * [[graft.ops.RatingCurves]]. */
  def hydrotable(spark: SparkSession): DataFrame =
    stageKnots(hydroids(spark))
      .withColumn("discharge_cms",
        (col("hydroid") % 7 + 1) * col("stage") +
          ((col("hydroid") % 5) * lit(0.5) + lit(0.5)) * col("stage") * col("stage"))
      .withColumn("feature_id", featureIdOf(col("hydroid")))
      .withColumn("lake_id", lakeIdOf(col("hydroid")))
      .withColumn("huc8", huc8Of(col("hydroid")))
      .select("hydroid", "feature_id", "huc8", "lake_id", "i", "stage", "discharge_cms")

  /** A feature's [[forecast]] discharge in integer tenths. */
  def forecastTenths(featureId: Column): Column = (featureId * 53 + 7) % 9000

  /** forecast(feature_id, discharge): one row per feature. */
  def forecast(spark: SparkSession): DataFrame =
    hydroids(spark)
      .select(featureIdOf(col("hydroid")).as("feature_id"))
      .withColumn("discharge", forecastTenths(col("feature_id")) / lit(10.0))
}
