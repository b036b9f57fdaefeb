package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.Cells
import graft.synth.Synth

/** Nearest-neighbor (k=1) join with a distance cap — SURVEY.md §2.3 J2/J5
  * (`sjoin_nearest(..., max_distance=100)`, `src/split_flows.py:93`;
  * STRtree conflation `src/stream_branches.py:1191-1234`).
  *
  * Ring-expansion design: candidate targets are found by exploding each
  * point's CoarseRes k-ring (bounded: (2k+1)² cells) and broadcast-joining
  * against targets bucketed by cell; the winner is the lexicographic min of
  * (dist², id) — a partial-aggregating `min(struct(...))` (struct minima run
  * as SortAggregate, not HashAggregate, but map-side combine still collapses
  * each point's candidates to one row before the shuffle), shuffled
  * only on the point key with ~1 surviving row per candidate group.
  *
  * Distance is squared planar degrees (deterministic +,*; no trig) — the
  * bit-compatible analog of the reference's projected-CRS meters.
  */
object KnnJoin {

  /** Cap such that ring radius stays small: 5.0° → radius 1 ring at
    * CoarseRes (5.625° cells) plus a safety ring. */
  val CapDeg = 5.0
  val Cap2 = CapDeg * CapDeg
  val RingK = 2

  /** targets: (hydroid, lat_c, lng_c). Returns (pid, nn_hydroid, nn_dist2)
    * — null nn for points with no target within the cap (left join). */
  def nearest(points: DataFrame, targets: DataFrame): DataFrame = {
    // bucket targets by every coarse cell within RingK of their own cell —
    // precomputed on the dimension side so the probe side needs NO explode
    // (pages-side row count is never amplified; 100 TB-safe).
    val bucketed = targets
      .withColumn("tc", Cells.latLngToCellCol(col("lat_c"), col("lng_c"), Cells.CoarseRes))
      .withColumn("ccell", explode(ring(col("tc"), RingK)))
      .select(col("ccell"), col("hydroid").as("t_hydroid"),
        col("lat_c").as("t_lat"), col("lng_c").as("t_lng"))

    points
      .join(broadcast(bucketed), Seq("ccell"), "left")
      .withColumn("d2",
        (col("lat") - col("t_lat")) * (col("lat") - col("t_lat")) +
          (col("lng") - col("t_lng")) * (col("lng") - col("t_lng")))
      // null out the whole struct beyond the cap so min() skips it (a struct
      // with null fields would sort before real candidates)
      .withColumn("cand", when(col("d2") <= Cap2, struct(col("d2"), col("t_hydroid"))))
      .groupBy(col("pid"))
      .agg(min(col("cand")).as("m"))
      .select(col("pid"), col("m.t_hydroid").as("nn_hydroid"), col("m.d2").as("nn_dist2"))
  }

  /** k-ring of a cell column as an array column (pure codegen arithmetic). */
  private def ring(cell: org.apache.spark.sql.Column, k: Int) = {
    val rowC = Cells.rowOfCol(cell)
    val colC = Cells.colOfCol(cell)
    val nr = Cells.rows(Cells.CoarseRes); val nc = Cells.cols(Cells.CoarseRes)
    val cells = for { dr <- -k to k; dc <- -k to k } yield {
      val rr = rowC + dr; val cc = colC + dc
      when(rr >= 0 && rr < nr && cc >= 0 && cc < nc,
        Cells.encodeCol(Cells.CoarseRes, rr, cc))
    }
    filter(array(cells: _*), c => c.isNotNull)
  }

  /** J5 conflation: per-catchment gage assignment by majority vote of its
    * member points' nearest gages (`src/stream_branches.py:1266-1312` —
    * mode of per-point matches, deterministic tie-break by smaller gage id). */
  def modeConflation(assigned: DataFrame, nn: DataFrame): DataFrame =
    assigned.select(col("pid"), col("hydroid"))
      .join(nn.filter(col("nn_hydroid").isNotNull), "pid")
      .groupBy(col("hydroid").cast("long").as("hydroid"), col("nn_hydroid"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("hydroid"))
      .agg(max(struct(col("votes").as("votes"), (-col("nn_hydroid")).as("neg_nn"))).as("m"),
        sum(col("votes")).as("n_votes"))
      .select(col("hydroid"), (-col("m.neg_nn")).cast("long").as("gage_mode"),
        col("m.votes").as("mode_votes"), col("n_votes"))

  /** Points → nearest gage-catchment centroid (the synthetic gage set). */
  def nearestGage(spark: SparkSession, points: DataFrame): DataFrame =
    nearest(points, Synth.gages(spark))
}
