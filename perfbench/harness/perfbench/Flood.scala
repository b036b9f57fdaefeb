package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Agreement, RatingInterp, SpatialJoin}
import graft.pipeline.Inundate
import graft.synth.Synth

/** The operational forecast map, composed from the engine's public layer
  * functions: scan → `Synth.withGeo` → `SpatialJoin.assign` →
  * `RatingInterp.stages` join + depth/class (`Inundate.tiles`) →
  * `Inundate.mosaic` → `Agreement.agreement` → `Agreement.metrics`.
  *
  * The page table is the seeded `lineitem` table exploded `mult`× with
  * distinct pids, shifted by a seed-chosen pid offset. */
final class FloodMap(run: Run, lineitemPath: String, mult: Int, pidOffset: Long) {
  private val spark = run.spark
  private val parts = run.cores * 3

  /** (pid) — the scan + explode layer. */
  def scan(): DataFrame =
    spark.read.parquet(lineitemPath)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("pid0"))
      .repartition(parts, col("pid0"))
      .withColumn("j", explode(sequence(lit(0), lit(mult - 1))))
      .select((col("pid0") + col("j") * 50000000L + lit(pidOffset)).as("pid"))

  def geo(): DataFrame = run.span("Synth.withGeo")(Synth.withGeo(scan()))

  def assigned(): DataFrame = { val p = geo(); run.span("SpatialJoin.assign")(SpatialJoin.assign(spark, p)) }

  /** The stage join half of `Inundate.tiles`, without the depth/class kernel. */
  def staged(): DataFrame = {
    val a = assigned()
    val stages = run.span("RatingInterp.stages")(
      RatingInterp.stages(Synth.hydrotable(spark), Synth.forecast(spark)))
    a.join(broadcast(stages), "hydroid")
  }

  def tiles(): DataFrame = { val p = geo(); run.span("Inundate.tiles")(Inundate.tiles(spark, p)) }

  def mosaic(): DataFrame = { val t = tiles(); run.span("Inundate.mosaic")(Inundate.mosaic(t)) }

  /** The full map, reduced to the engine's contingency table
    * (`Agreement.metrics` over `Agreement.agreement`) in one action. */
  def contingency(): DataFrame = {
    val m = mosaic()
    run.span("Agreement.metrics")(Agreement.metrics(run.span("Agreement.agreement")(Agreement.agreement(spark, m))))
  }

  /** The map's agreement counts: (tn, fn, fp, tp, masked). */
  def runMap(): Seq[Long] = {
    val df = contingency()
    val r: Row = run.span("action:contingency")(df.collect()(0))
    (0 until 5).map(r.getLong)
  }

  /** The mosaic's cell count and page total (sum of n_points), for the
    * output check. */
  def mosaicTotals(): (Long, Long) = {
    val r = mosaic().agg(count(lit(1)), sum(col("n_points"))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

/** flood_forecast: repeated full forecast maps over a large page table. */
final class Flood(run: Run) {
  private val args = run.args
  private val rng = new scala.util.Random(args.seed)
  // offsets step past the largest exploded pid so seeds never share a page
  private val pidOffset = rng.nextInt(1000).toLong * 3200000000L
  private val mult = 8

  def apply(): Unit = {
    val map = new FloodMap(run, s"${args.data}/flood/lineitem.parquet", mult, pidOffset)
    // warm-up at the real size: JIT, codegen and the broadcast builds. The
    // second map still runs measurably slower than later ones, so it is
    // also untimed.
    (1 to 2).foreach { _ =>
      val (counts, s) = run.time(map.runMap())
      run.sample("warmup_map_s", s)
      run.fp("forecast_map", counts)
    }
    // output-check references, taken apart from the maps: the mosaic's cell
    // and page totals, and, counted independently of the engine's join, the
    // pages whose closed-form grid catchment is a lake (no stage)
    val lakeCell = (floor((Synth.latCol(col("pid")) + 90.0) / Synth.CatH) * Synth.CatCols +
      floor((Synth.lngCol(col("pid")) + 180.0) / Synth.CatW)) % 97 === 0
    val (((cells, mosaicPages), totals), checkS) = run.time(
      (map.mosaicTotals(), map.scan().agg(count(lit(1)), count(when(lakeCell, 1))).collect()(0)))
    val pages = totals.getLong(0)
    run.rec.put("pages_per_map", pages.toDouble)
    run.rec.put("lake_pages", totals.getLong(1).toDouble)
    run.rec.put("cells", cells.toDouble)
    run.rec.put("mosaic_pages", mosaicPages.toDouble)
    run.rec.put("setup_checks_s", checkS)
    if (args.trace) { trace(map, pages); return }
    run.closedLoop(min = 3) { pass =>
      run.attempt("forecast map") { map.runMap() } match {
        case Some((counts, s)) =>
          run.ops += (("forecast_map", "hydro", pass, s, pages.toDouble))
          run.sample("pass_s", s)
          run.fp("forecast_map", counts)
        case None =>
      }
    }
  }

  private def trace(map: FloodMap, pages: Long): Unit = {
    run.markTimedStart()
    // tracing overhead: two pairs of maps without and with spans, in swapped
    // order, so the JIT's warming favours neither side
    var plain, spanned = 0.0
    for (on <- Seq(false, true, true, false)) {
      run.spansOn = on
      run.attempt(s"forecast map (${if (on) "traced" else "untraced"})")(
        run.span("flood_forecast.map")(map.runMap())).foreach { case (counts, s) =>
        run.fp("forecast_map", counts)
        if (on) spanned += s else plain += s
      }
    }
    run.layers("trace.overhead_share") = (spanned - plain) / plain
    run.spansOn = true
    Layers.floodLadder(run, map, pages, reps = 2)
    Layers.dedupProbe(run, s"${args.data}/mix")
    Layers.queryProbe(run, s"${args.data}/mix")
    Layers.runTotals(run)
  }
}
