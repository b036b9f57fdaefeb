package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Stream-network graph operators — SURVEY.md §2.9 (G1–G5) re-expressed over
  * a deterministic synthetic reach network (one reach per catchment, flowing
  * toward the HUC's south edge with column-merge confluences):
  *
  *   local (lr, lc) in the 8×8 HUC block; downstream of (lr, lc) is
  *   (lr−1, lc′) with lc′ = lc + (lc%3 − 1) clamped to the block; lr == 0 is
  *   an outlet (NextDownID = −1, `src/build_stream_traversal.py:164-165`).
  *
  * The table is closed forms over [[Synth.hydroids]] ([[reachNet]]), not
  * 20 736 literal rows; its oracle twin is `OracleSql.net`.
  *
  * Reach length = 1.0 + (hydroid % 8) · 0.125 km — dyadic, so arbolate sums
  * are exact doubles (order-insensitive) at any partitioning.
  *
  * The per-HUC traversals (arbolate, level-path) follow the reference's own
  * scale assumption — networks are small *within* a processing unit while
  * units are many (`fim_pipeline.sh:103-111`) — so the engine uses
  * `groupByKey(huc8).flatMapGroups` with an in-memory kernel per HUC:
  * thousands of HUCs parallelize across executors, no iterative shuffles.
  */
object StreamNet {

  /** Reaches shorter than this (km) take a donor's rating curve. */
  private val MinReachKm = 1.25
  private val MinAreaSqKm = 3.0 // ratingGraftFull's short-catchment area

  def lengthOf(h: Int): Double = 1.0 + (h % 8) * 0.125
  def lengthOf(hydroid: Column): Column = lit(1.0) + (hydroid % 8) * lit(0.125)
  /** Reach slope (`Calibration.srcGeom`, `NetworkEval.backpool`). */
  def slopeOf(hydroid: Column): Column = lit(0.001) + (hydroid % 11) * lit(0.0005)

  /** (hydroid, huc8, to_node) over [[Synth.hydroids]], `OracleSql.reachNet`'s
    * twin: a reach in HUC-block row 0 is an outlet (−1); any other drains to
    * the row below, at local column `downLc(lc)`. */
  private[ops] def reachNet(spark: SparkSession, downLc: Column => Column): DataFrame = {
    val h = col("hydroid")
    val lc = Synth.catColOf(h) % Synth.HucCatRows
    Synth.hydroids(spark).select(h, Synth.huc8Of(h).as("huc8"),
      when(Synth.catRowOf(h) % Synth.HucCatRows === 0, lit(-1L))
        .otherwise((Synth.catRowOf(h) - 1) * Synth.CatCols + Synth.catColOf(h) - lc + downLc(lc))
        .as("to_node"))
  }

  /** reaches(hydroid, huc8, order_, length_km, to_node,
    *         from_lat, from_lng, to_lat, to_lng) — node coords are catchment
    * centroids (from) and downstream centroids (to; an outlet's lies a row
    * south). */
  def reaches(spark: SparkSession): DataFrame = {
    val h = col("hydroid"); val d = col("to_node")
    val net = reachNet(spark, { lc =>
      val lcp = lc + (lc % 3 - 1)
      when(lcp < 0 || lcp >= Synth.HucCatRows, lc).otherwise(lcp)
    })
    net.select(h.cast("int").as("hydroid"), col("huc8"), Synth.orderOf(h).as("order_"),
      lengthOf(h).as("length_km"), d.cast("int").as("to_node"),
      Synth.latCOf(h).as("from_lat"), Synth.lngCOf(h).as("from_lng"),
      when(d < 0, Synth.latCOf(h) - lit(Synth.CatH)).otherwise(Synth.latCOf(d)).as("to_lat"),
      when(d < 0, Synth.lngCOf(h)).otherwise(Synth.lngCOf(d)).as("to_lng"))
  }

  /** G5: NextDownID resolved *relationally* from node coordinates — self
    * equi-join to-coord = from-coord within the HUC (exact double equality;
    * coords are exact dyadics), terminal −1 when no match. `OracleSql.net`'s
    * closed-form `to_node` is the oracle for this derivation. */
  def resolveNextDown(reaches: DataFrame): DataFrame = {
    val dst = reaches.select(col("huc8").as("huc8_d"), col("hydroid").as("next_id"),
      col("from_lat").as("nlat"), col("from_lng").as("nlng"))
    reaches.join(dst,
        col("huc8") === col("huc8_d") && col("to_lat") === col("nlat") &&
          col("to_lng") === col("nlng") && col("hydroid") =!= col("next_id"),
        "left")
      .groupBy(col("hydroid"))
      .agg(coalesce(min(col("next_id")), lit(-1)).as("next_down_id"))
  }

  /** G2: headwater/outlet flags via anti-join semantics (no upstream / no
    * downstream), as `filter_catchments_and_add_attributes.py:46-49`. */
  def endpoints(reaches: DataFrame): DataFrame = {
    val hasUp = reaches.filter(col("to_node") >= 0)
      .select(col("to_node").as("hydroid")).distinct()
      .withColumn("has_up", lit(1))
    reaches.select(col("hydroid"), col("to_node"))
      .join(hasUp, Seq("hydroid"), "left")
      .select(col("hydroid"),
        (col("to_node") === -1).cast("int").as("is_outlet"),
        (col("has_up").isNull).cast("int").as("is_headwater"))
  }

  private case class Reach(hydroid: Int, lengthKm: Double, toNode: Int, order: Int)

  /** G3: arbolate sum (accumulated upstream length incl. self) — per-HUC
    * in-memory accumulation inside flatMapGroups. */
  def arbolate(spark: SparkSession, reachesDf: DataFrame): DataFrame = {
    import spark.implicits._
    reachesDf.select(col("huc8"), col("hydroid"), col("length_km"), col("to_node"), col("order_"))
      .as[(String, Int, Double, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (huc, it) =>
        val rs = it.map(t => Reach(t._2, t._3, t._4, t._5)).toArray
        val arbo = arboKernel(rs)
        rs.iterator.map(r => (huc, r.hydroid, arbo(r.hydroid)))
      }
      .toDF("huc8", "hydroid", "arbolate_km")
  }

  /** Topological accumulation: children-first order via repeated relaxation
    * (network depth ≤ block height, 8). Sums are added in ascending child-id
    * order → deterministic exact doubles. */
  private def arboKernel(rs: Array[Reach]): Map[Int, Double] = {
    val children = rs.groupBy(_.toNode)
    val byId = rs.map(r => r.hydroid -> r).toMap // O(1) lookup keeps the kernel linear
    val memo = scala.collection.mutable.HashMap[Int, Double]()
    def arbo(h: Int): Double = memo.getOrElseUpdate(h, {
      val kids = children.getOrElse(h, Array.empty).sortBy(_.hydroid)
      byId(h).lengthKm + kids.map(k => arbo(k.hydroid)).sum
    })
    rs.map(r => r.hydroid -> arbo(r.hydroid)).toMap
  }

  /** G6: short-reach rating graft — reaches shorter than [[MinReachKm]] take
    * their rating curve from a donor: the downstream reach when one exists,
    * else themselves (`src/add_crosswalk.py:110-318`, simplified to the
    * deterministic donor rule; selection is a join, not iteration). */
  def ratingGraft(reachesDf: DataFrame): DataFrame =
    reachesDf.select(col("hydroid"), col("length_km"), col("to_node"))
      .withColumn("donor_id",
        when(col("length_km") < MinReachKm && col("to_node") >= 0, col("to_node"))
          .otherwise(col("hydroid")))

  /** G6 FULL donor ladder (q79) — the complete short-reach rating-curve graft
    * of `src/add_crosswalk.py:110-230`. A reach is "short" when its catchment
    * area AND length are under threshold and it is not a waterbody. The
    * reference's pandas row-loop ladder becomes one aggregated self-join:
    *   1. ≥1 upstream reaches → the upstream reach of max stream order, ties
    *      to the lowest HydroID (the reference takes the first frame row;
    *      its frames are HydroID-ordered) — covers both its "multiple
    *      upstream" and "single upstream" cases;
    *   2. no upstream, has downstream → the downstream reach (its
    *      "no upstream segments; single downstream" case — our reach graph
    *      has exactly one downstream per node);
    *   3. otherwise → itself (its fallback).
    * The graft replaces the short reach's curve with the donor's
    * stage-indexed discharge (`add_crosswalk.py:275-318`); output keeps every
    * 21st knot. `areasqkm = (hydroid % 13 + 5) · 0.4` is the deterministic
    * synthetic catchment area (same base as the SRC geometry family).
    *
    * Scale shape: shorts ⋈ upstream is an equi-join on hydroid; the winner is
    * a partial-aggregating min(struct(−order, id)); the curve graft is an
    * equi-join into the SRC scan. No windows over the big table, no driver
    * loops. */
  def ratingGraftFull(spark: SparkSession, reachesDf: DataFrame): DataFrame = {
    val shorts = reachesDf
      .withColumn("areasqkm", ((col("hydroid") % 13) + 5) * lit(0.4))
      .filter(col("areasqkm") < MinAreaSqKm && col("length_km") < MinReachKm &&
        !Synth.isLake(col("hydroid")))
      .select(col("hydroid"), col("to_node"))
    val up = reachesDf.select(col("to_node").as("hydroid"),
      col("hydroid").as("up_id"), col("order_").as("up_order"))
    val upWinner = shorts.join(up, "hydroid")
      .groupBy(col("hydroid"))
      .agg(min(struct((-col("up_order")).as("no"), col("up_id").as("id"))).as("w"))
      .select(col("hydroid"), col("w").getField("id").as("up_donor"))
    val donors = shorts.join(upWinner, Seq("hydroid"), "left")
      .select(col("hydroid"),
        coalesce(col("up_donor"),
          when(col("to_node") >= 0, col("to_node")),
          col("hydroid")).as("donor_id"),
        when(col("up_donor").isNotNull, lit("upstream"))
          .when(col("to_node") >= 0, lit("downstream"))
          .otherwise(lit("self")).as("rule"))
    val knots = Synth.hydrotable(spark).filter(col("i") % 21 === 0)
      .select(col("hydroid").as("donor_id"), col("i").cast("long").as("i"),
        col("stage"), col("discharge_cms").as("discharge_grafted"))
    donors.join(knots, "donor_id")
      .select(col("hydroid"), col("donor_id"), col("rule"), col("i"), col("stage"),
        col("discharge_grafted"))
  }

  /** Gage snap-to-line (q86) — `src/usgs_gage_crosswalk.py:165-170`: each
    * gage point is PROJECTED onto its reach's line segment
    * (shapely `project` + `interpolate`), yielding the normalized position
    * t ∈ [0, 1], the snapped coordinate, and the squared snap distance.
    * Pure planar dot-product projection with a clamp — IEEE +,−,·,/ and
    * least/greatest only, so the oracle reproduces every value bit-for-bit.
    * Gage points are a deterministic jitter off the reach's from-node.
    * Per-row scalar math over one scan: fully codegen'd, no joins. */
  def gageSnap(reachesDf: DataFrame): DataFrame = {
    val g = reachesDf.filter(Synth.isGage(col("hydroid")))
      .withColumn("glat",
        col("from_lat") + ((col("hydroid") * 13) % 100) / lit(1000.0) - lit(0.05))
      .withColumn("glng",
        col("from_lng") + ((col("hydroid") * 29) % 100) / lit(1000.0) - lit(0.05))
    val vx = col("to_lng") - col("from_lng"); val vy = col("to_lat") - col("from_lat")
    val wx = col("glng") - col("from_lng");   val wy = col("glat") - col("from_lat")
    g.withColumn("t",
        least(greatest((wx * vx + wy * vy) / (vx * vx + vy * vy), lit(0.0)), lit(1.0)))
      .withColumn("snap_lat", col("from_lat") + col("t") * vy)
      .withColumn("snap_lng", col("from_lng") + col("t") * vx)
      .withColumn("dist2",
        (col("glng") - col("snap_lng")) * (col("glng") - col("snap_lng"))
          + (col("glat") - col("snap_lat")) * (col("glat") - col("snap_lat")))
      .select(col("hydroid"), col("glat"), col("glng"), col("t"),
        col("snap_lat"), col("snap_lng"), col("dist2"))
  }

  /** G8: waterbody walk — from each lake reach (hydroid % 97 == 0), follow
    * `to_node` downstream until the first non-lake reach (or the outlet);
    * per-HUC in-memory walk, same kernel family as arbolate/level-path. */
  def waterbodyExit(spark: SparkSession, reachesDf: DataFrame): DataFrame = {
    import spark.implicits._
    reachesDf.select(col("huc8"), col("hydroid"), col("to_node"))
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (huc, it) =>
        val rs = it.map(t => (t._2, t._3)).toMap
        def isLake(h: Int) = h % 97 == 0
        rs.keysIterator.filter(isLake).toSeq.sorted.iterator.map { h =>
          var cur = h
          while (cur >= 0 && isLake(cur)) cur = rs.getOrElse(cur, -1)
          (huc, h, cur) // -1 = exited at outlet while still in waterbody
        }
      }
      .toDF("huc8", "hydroid", "exit_node")
  }

  /** W3/§2.10 #5: split each reach into ≤0.5 km segments — the
    * `split_flows.py:310-357` cumulative-length splitter as a generator
    * (explode over a sequence expression; no UDTF needed). */
  def segments(reachesDf: DataFrame): DataFrame =
    reachesDf
      .withColumn("n_seg", ceil(col("length_km") / lit(0.5)).cast("int"))
      .withColumn("seg", explode(sequence(lit(1), col("n_seg"))))
      .select(col("hydroid"), col("seg"),
        ((col("seg") - 1) * lit(0.5)).as("seg_start"),
        least(col("seg") * lit(0.5), col("length_km")).as("seg_end"))

  /** G4: level-path (branch) assignment — from each outlet walk upstream,
    * continuing the current branch along the max-(order, arbolate, id)
    * upstream reach at every confluence; other tributaries start new branches
    * rooted at their own id (deterministic tie-breaks,
    * `src/stream_branches.py:849-871`). */
  def levelPaths(spark: SparkSession, reachesDf: DataFrame): DataFrame = {
    import spark.implicits._
    reachesDf.select(col("huc8"), col("hydroid"), col("length_km"), col("to_node"), col("order_"))
      .as[(String, Int, Double, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (huc, it) =>
        val rs = it.map(t => Reach(t._2, t._3, t._4, t._5)).toArray
        val arbo = arboKernel(rs)
        val byId = rs.map(r => r.hydroid -> r).toMap
        val children = rs.groupBy(_.toNode)
        val lp = scala.collection.mutable.HashMap[Int, Int]()
        def assign(h: Int, branch: Int): Unit = {
          lp(h) = branch
          val kids = children.getOrElse(h, Array.empty)
          if (kids.nonEmpty) {
            val chosen = kids.maxBy(k => (k.order, arbo(k.hydroid), k.hydroid))
            kids.foreach { k =>
              if (k.hydroid == chosen.hydroid) assign(k.hydroid, branch)
              else assign(k.hydroid, k.hydroid)
            }
          }
        }
        rs.filter(_.toNode == -1).sortBy(_.hydroid).foreach(o => assign(o.hydroid, o.hydroid))
        rs.iterator.map(r => (huc, r.hydroid, lp(r.hydroid)))
      }
      .toDF("huc8", "hydroid", "levelpath_id")
  }
}
