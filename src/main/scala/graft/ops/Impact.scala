package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.Cells
import graft.synth.Synth

/** Flood-impact analysis — the reference's infrastructure-exposure and
  * deep-flooding diagnostics over the mosaic:
  *
  *  - [[floodImpact]] (q109) — `tools/analyze_flood_impact.py:13-130`
  *  - [[deepFlooding]] (q110) — `tools/check_deep_flooding.py:20-78`
  */
object Impact {

  private val DeepM = 2.0 // deepFlooding's depth threshold t
  private val MinErrorCells = 3L // catchmentBoundaryErrors' min run length

  /** Flood-impact CSI over synthetic structures + roads (q109) —
    * `tools/analyze_flood_impact.py:13-130`: two inundation extents
    * (benchmark and test) are intersected with a structures point layer and
    * a roads line layer; a feature is "impacted" when it touches a wet cell.
    * Structures are 5,000 deterministic geocoded points; roads are the
    * reach lines sampled at 5 parameter steps (a line intersects the
    * extent iff any sample cell is wet — exact for cell-sized sampling).
    * The test extent diverges deterministically from the benchmark (lower
    * depth threshold + a cell-parity dropout), so both FP and FN features
    * exist.
    *
    * The reference computes TP as `len(bench.merge(test, how='left'))`
    * (`analyze_flood_impact.py:78-83`) — a LEFT merge, so every
    * benchmark-impacted feature counts as a "true positive" whether or not
    * the test flagged it, and CSI = TP/(TP+FN+FP) over-credits by the FN
    * count. Reproduced faithfully (same quirk class as q88's upstream
    * off-by-one).
    *
    * Plan shape: the feature tables are tiny and broadcast AGAINST the wet
    * cell sets (the fact side streams, never shuffles); the distincts are
    * feature-table-sized. */
  def floodImpact(spark: SparkSession, mosaic: DataFrame): DataFrame = {
    val wet = mosaic.select(col("cell"), col("depth_max"))
    val wetBench = wet.filter(col("depth_max") > 0.5).select(col("cell"))
    val wetTest = wet.filter(col("depth_max") > 0.25 && col("cell") % 7 =!= 3)
      .select(col("cell"))
    val structures = spark.range(0, 5000)
      .select(col("id").as("objectid"), (col("id") * 13 + 7).as("pid"))
      .withColumn("lat", Synth.latCol(col("pid")))
      .withColumn("lng", Synth.lngCol(col("pid")))
      .select(col("objectid"), lit("structure").as("ftype"),
        Cells.latLngToCellCol(col("lat"), col("lng"), Cells.BaseRes).as("cell"))
    val roads = StreamNet.reaches(spark)
      .withColumn("j", explode(sequence(lit(0), lit(4))))
      .withColumn("t", col("j") / lit(4.0))
      .withColumn("lat", col("from_lat") + col("t") * (col("to_lat") - col("from_lat")))
      .withColumn("lng", col("from_lng") + col("t") * (col("to_lng") - col("from_lng")))
      .select(col("hydroid").cast("long").as("objectid"), lit("road").as("ftype"),
        Cells.latLngToCellCol(col("lat"), col("lng"), Cells.BaseRes).as("cell"))
    val feats = structures.unionByName(roads)
    def impacted(wetCells: DataFrame): DataFrame =
      wetCells.join(broadcast(feats), Seq("cell"))
        .select(col("objectid"), col("ftype")).distinct()
    // one relational plan for every count — no driver-side count loop
    val both = impacted(wetBench).withColumn("in_b", lit(1))
      .join(impacted(wetTest).withColumn("in_t", lit(1)),
        Seq("objectid", "ftype"), "full")
    val tp = count(when(col("in_b") === 1, 1)) // the reference's LEFT-merge TP
    val fneg = count(when(col("in_b") === 1 && col("in_t").isNull, 1))
    val fpos = count(when(col("in_t") === 1 && col("in_b").isNull, 1))
    both.agg(
      count(when(col("in_b") === 1 && col("ftype") === "structure", 1)).as("n_struct_bench"),
      count(when(col("in_b") === 1 && col("ftype") === "road", 1)).as("n_road_bench"),
      count(when(col("in_t") === 1 && col("ftype") === "structure", 1)).as("n_struct_test"),
      count(when(col("in_t") === 1 && col("ftype") === "road", 1)).as("n_road_test"),
      tp.as("tp"), fneg.as("fn"), fpos.as("fp"),
      // guarded like every other ratio: 0/0 would be Spark-NaN vs DuckDB-NULL
      when(tp + fneg + fpos =!= 0,
        tp.cast("double") / (tp.cast("double") + fneg.cast("double")
          + fpos.cast("double"))).as("csi"))
  }

  /** Deep-flooding check (q110) — `tools/check_deep_flooding.py:20-78`: the
    * depth grid is masked to the analysis polygons and thresholded
    * (`np.where(depth > t, depth, -1)` under the polygon mask); summarized
    * per polygon as deep-cell count, share, and maximum depth. A cell's
    * polygon is the lookup of its centroid in the broadcast mask index
    * ([[SpatialJoin.maskOf]]); cells in no polygon drop. The lookup is
    * the stream-side key of a broadcast join to the mask ids, as in
    * [[SpatialJoin.assign]]: a projected id would let the optimizer push the
    * miss filter below the projection and run the lookup twice per cell.
    * The mosaic never shuffles for the mask. */
  def deepFlooding(spark: SparkSession, mosaic: DataFrame): DataFrame = {
    import spark.implicits._
    val ids = Synth.maskList.map(_.mask_id).toDF("mask_id")
    mosaic
      .join(broadcast(ids), SpatialJoin.maskOf(spark, col("cell")) === ids("mask_id"))
      .groupBy(col("mask_id").cast("long").as("mask_id"))
      .agg(count(lit(1)).as("n_cells"),
        count(when(col("depth_max") > DeepM, 1)).as("n_deep"),
        max(when(col("depth_max") > DeepM, col("depth_max"))).as("max_deep"))
      .select(col("mask_id"), col("n_cells"), col("n_deep"), col("max_deep"),
        (col("n_deep").cast("double") / col("n_cells").cast("double") * lit(100.0))
          .as("pct_deep"))
  }

  /** Catchment-boundary inundation errors (q112) —
    * `tools/identify_catchment_boundary.py:14-120`: where the inundation
    * extent's boundary coincides with a catchment boundary, the HAND model
    * has truncated the flood at an artificial edge. Cell form: a wet cell
    * is an error cell when one of its 4-neighbors is DRY and belongs to a
    * DIFFERENT catchment (the extent stops exactly at the catchment edge);
    * errors are linked to the wet cell's HydroID and reported where the
    * run length clears [[MinErrorCells]] (the reference's min_error_length
    * on the dissolved error lines). Both catchment lookups are the
    * broadcast PIP join; the wet set shuffles once for the neighbor
    * anti-lookup. */
  def catchmentBoundaryErrors(spark: SparkSession, mosaic: DataFrame): DataFrame = {
    val wet = mosaic.filter(col("depth_max") > 0.0).select(col("cell"))
    val nbrs = wet.select(col("cell"),
      explode(array(Cells.neighbourCols(col("cell"), Cells.BaseRes): _*)).as("ncell"))
    val dry = nbrs.join(wet.select(col("cell").as("ncell"))
      .withColumn("nwet", lit(1)), Seq("ncell"), "left")
      .filter(col("nwet").isNull)
    def assigned(df: DataFrame, cellCol: String, out: String): DataFrame =
      SpatialJoin.assign(spark,
        df.withColumn("lat", Cells.centroidLatCol(col(cellCol), Cells.BaseRes))
          .withColumn("lng", Cells.centroidLngCol(col(cellCol), Cells.BaseRes)))
        .withColumnRenamed("hydroid", out)
        .drop("lat", "lng", "feature_id", "huc8", "lake_id", "order_")
    val err = assigned(assigned(dry, "cell", "hyd"), "ncell", "nhyd")
      .filter(col("hyd") =!= col("nhyd"))
    err.groupBy(col("hyd").cast("long").as("hydroid"))
      .agg(countDistinct(col("cell")).as("n_error_cells"))
      .filter(col("n_error_cells") >= MinErrorCells)
  }

  /** Missing-FIM-cell analysis (q113) —
    * `tools/analyze_for_missing_FIM_cells.py:31-141`: per stream order, how
    * many catchment cells sit at REM 0 (the inundation seed set — cells
    * that wet at any positive stage) and which HydroIDs have NO zero-REM
    * cell at all ("thalweg notches" that can never inundate). The
    * percentage uses the reference's global denominator (all catchment
    * cells, `:74-76`), not a per-order one. Catchments whose REM is
    * entirely nodata (no thalweg cell) count as notches. Two partial
    * aggregations over the q102 REM table. */
  def missingFim(spark: SparkSession, assigned: DataFrame): DataFrame = {
    val remDf = Terrain.rem(assigned)
    val perHyd = remDf
      .withColumn("order_", Synth.orderOf(col("hydroid")))
      .groupBy(col("order_"), col("hydroid"))
      .agg(count(lit(1)).as("n_cells"),
        count(when(col("rem") === 0.0, 1)).as("n_rem0"))
    val total = remDf.agg(count(lit(1)).as("n_total"))
    perHyd.groupBy(col("order_"))
      .agg(count(lit(1)).as("n_hydroids"),
        sum(col("n_cells")).as("n_cells"),
        sum(col("n_rem0")).as("n_rem0_cells"),
        count(when(col("n_rem0") === 0, 1)).as("n_notch_hydroids"))
      .crossJoin(broadcast(total))
      .select(col("order_"), col("n_hydroids"), col("n_cells"),
        col("n_rem0_cells"), col("n_notch_hydroids"),
        (col("n_rem0_cells").cast("double") / col("n_total").cast("double")
          * lit(100.0)).as("pct_rem0"))
  }
}
