package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.geo.Cells

/** Physical-layout operators: Z-order (Morton) clustering keys and the
  * zone-map (per-file min/max) pruning statistics that justify them — the
  * Iceberg/Delta data-skipping story for the tile store. Reference analog:
  * the HUC-partitioned run directories (`src/run_unit_wb.sh` fans out by
  * HUC8) are exactly a spatial-locality layout; at a 10^12-page table the
  * same goal is met by clustering files on an interleaved cell key so a
  * bbox query's file-level min/max ranges exclude almost everything.
  *
  * Scale notes: the Z-key is 26 bits of pure integer arithmetic (13
  * row/col bit pairs, unrolled shift-mask-add — whole-stage-codegen'd, no
  * UDF). Bucketing is a key PREFIX (`zkey >> shift`), not an ntile — no
  * global sort, no exchange before the zone-map aggregate; at production
  * scale the same prefix is the write-partitioning key, so the zone maps
  * here are what the table's file footers would carry. The comparison
  * `hash` layout runs through the identical aggregate so the pruning gap
  * (zone maps tight under Z-order, useless under hash) is measured, not
  * asserted.
  */
object Layout {

  /** Bits per axis in the interleave: covers BaseRes rows (12 bits) and
    * cols (13 bits). */
  val ZBits = 13

  /** Prefix shift for bucketing: 26-bit zkey >> 20 → 64 leading-prefix
    * buckets (the "file" grain of the evidence table). */
  val BucketShift = 20
  private val HashBuckets = 64L // the hash layout's buckets, as many as the prefix's

  /** Morton interleave: bit b of `row` → zkey bit 2b+1, bit b of `col` →
    * zkey bit 2b. Exact BIGINT shift/mask/add, mirrored textually by the
    * DuckDB oracle with `//`/`%` integer arithmetic. */
  def zkey(row: Column, c: Column): Column =
    (0 until ZBits).map { b =>
      shiftright(row, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)) +
        shiftright(c, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))
    }.reduce(_ + _)

  /** Zone-map pruning evidence (q128): the geocoded point table laid out two
    * ways — Z-order prefix buckets vs pid-hash buckets — with per-bucket
    * min/max row/col zone maps and whether the probe bbox
    * [rLo..rHi]×[cLo..cHi] can skip the bucket entirely. One union, ONE
    * partial-aggregating exchange on (layout, bucket); the skip flag is a
    * pure projection over the aggregate. */
  def zoneMaps(points: DataFrame, rLo: Long, rHi: Long, cLo: Long, cHi: Long): DataFrame = {
    val base = points.select(col("pid"),
      Cells.rowOfCol(col("cell")).as("cr"), Cells.colOfCol(col("cell")).as("cc"))
    val zed = base.select(lit("zorder").as("layout"),
      shiftright(zkey(col("cr"), col("cc")), BucketShift).as("bucket"),
      col("cr"), col("cc"))
    val hashed = base.select(lit("hash").as("layout"),
      pmod(col("pid"), lit(HashBuckets)).as("bucket"), col("cr"), col("cc"))
    zed.unionByName(hashed)
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n_pages"),
        min(col("cr")).as("row_min"), max(col("cr")).as("row_max"),
        min(col("cc")).as("col_min"), max(col("cc")).as("col_max"))
      .withColumn("can_skip",
        (!(col("row_min") <= rHi && col("row_max") >= rLo &&
          col("col_min") <= cHi && col("col_max") >= cLo)).cast("int"))
  }
}
