package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Rating-curve stage interpolation — SURVEY.md §2.4 A5, reproducing
  * `np.interp` semantics of `tools/inundation.py:667-679` exactly:
  * given forecast discharge Q and per-catchment monotone knots (stage_i, q_i),
  *   Q <= q_0       → stage_0          (clamp below)
  *   Q >= q_max     → stage_max        (clamp above)
  *   else           → s_lo + (Q - q_lo) * (s_hi - s_lo) / (q_hi - q_lo)
  *
  * The synthetic rating curves (SRC) are static, so the engine indexes them
  * once per JVM as [[RatingCurves]] (the 20 522 non-lake curves share 35
  * ladders: 352 544 bytes, built on the driver from [[Synth]]'s closed form
  * in 20–30 ms warm) and broadcasts that once per SparkContext
  * ([[Broadcasts]]); [[stages]] is then a map-only projection of the
  * forecast through the codegen'd [[StageLookup]].
  *
  * Curves that are data — calibrated, threshold and USGS ladders
  * (`Calibration`, `CatFim`, `Bridges`) — interpolate relationally:
  *  1. [[stageExpr]] — pure conditional aggregation (codegen'd, partial-agg
  *     friendly, bit-compatible with the SQL oracle). Relies on q strictly
  *     monotone in stage, which the synthetic curves guarantee.
  *  2. [[InterpAgg]] — a typed `Aggregator` UDAF that keeps bracketing knots
  *     in a fixed-size buffer; handles *non*-monotone duplicate-knot tables
  *     the same way np.interp does (first matching interval). Used as a
  *     cross-check (q117 and the specs).
  */
object RatingInterp {

  /** Aggregation columns: given rows (stage, q, Q) grouped by catchment,
    * produce the interpolated stage. All max/min — order-insensitive and
    * partial-aggregation (map-side combine) friendly. The oracle's twin is
    * `OracleSql.interpSql` (as `stageInterp`). */
  def stageExpr: Column = {
    val loS = max(when(col("discharge_cms") <= col("discharge"), col("stage")))
    val loQ = max(when(col("discharge_cms") <= col("discharge"), col("discharge_cms")))
    val hiS = min(when(col("discharge_cms") > col("discharge"), col("stage")))
    val hiQ = min(when(col("discharge_cms") > col("discharge"), col("discharge_cms")))
    val q = max(col("discharge")) // constant per group
    when(loS.isNull, min(col("stage")))
      .when(hiS.isNull, max(col("stage")))
      .otherwise(loS + (q - loQ) * (hiS - loS) / (hiQ - loQ))
  }

  /** The synthetic SRC's non-lake curves ([[Synth.hydrotable]] with
    * `lake_id = -999`), from the same closed form. */
  private[graft] lazy val curves: RatingCurves = {
    val stage = Array.tabulate(Synth.StageKnots)(Synth.stageOf)
    RatingCurves.build(stage, Synth.catchmentList.iterator.filter(_.lake_id == -999).map { c =>
      (c.feature_id, c.hydroid, stage.map(Synth.dischargeOf(c.hydroid, _)))
    })
  }

  /** [[curves]] broadcast on `spark`'s SparkContext (once per context). */
  def curvesOf(spark: SparkSession): Broadcast[RatingCurves] = Broadcasts.of(spark, curves)

  /** forecast(feature_id, discharge) → (hydroid BIGINT, stage_m DOUBLE): one
    * row per forecast feature with a non-lake curve, its stage interpolated
    * on the synthetic SRC. Map-only: the codegen'd [[StageLookup]] of each
    * forecast row (evaluated by the projection and by the miss filter the
    * optimizer pushes below it), no join, aggregate or exchange. The
    * forecast holds one row per feature_id. */
  def stages(spark: SparkSession, forecast: DataFrame): DataFrame =
    forecast
      .select(StageLookup.lookup(col("feature_id"), col("discharge"), curvesOf(spark)).as("s"))
      .filter(col("s.hydroid") =!= StageLookup.Miss)
      .select(col("s.hydroid"), col("s.stage_m"))

  /** The relational form over an arbitrary knot table (hydroid,
    * feature_id, lake_id, stage, discharge_cms): knots ⋈ broadcast(forecast)
    * grouped with [[stageExpr]], lake rows (`lake_id = -999`, P2) filtered
    * first. Over [[Synth.hydrotable]] it is [[stages]]'s reference. */
  def stages(hydrotable: DataFrame, forecast: DataFrame): DataFrame =
    hydrotable
      .filter(col("lake_id") === -999)
      .join(broadcast(forecast), "feature_id")
      .groupBy(col("hydroid"))
      .agg(stageExpr.as("stage_m"))

  /** np.round(x, 4)-faithful rounding (`tools/inundation.py:675`): numpy
    * scales by 10⁴, rints half-even on the resulting double (fp-multiply
    * artifacts included), and divides — `bround(x*10⁴, 0)/10⁴` reproduces
    * that exactly, where a plain `bround(x, 4)` (decimal-exact half-even)
    * would differ on tie-adjacent doubles like 1.23455. */
  def npRound4(c: Column): Column = bround(c * lit(10000.0), 0) / lit(10000.0)

  // ---- typed Aggregator cross-check (np.interp faithful) ----

  final case class Knot(stage: Double, q: Double, fq: Double)
  final case class InterpBuf(var fq: Double, var n: Int,
      var loS: Double, var loQ: Double, var hiS: Double, var hiQ: Double,
      var minS: Double, var minQ: Double, var maxS: Double, var maxQ: Double)

  class InterpAgg extends Aggregator[Knot, InterpBuf, Double] {
    def zero: InterpBuf = InterpBuf(Double.NaN, 0,
      Double.NaN, Double.NegativeInfinity, Double.NaN, Double.PositiveInfinity,
      Double.NaN, Double.PositiveInfinity, Double.NaN, Double.NegativeInfinity)
    def reduce(b: InterpBuf, k: Knot): InterpBuf = {
      b.fq = k.fq; b.n += 1
      if (k.q <= k.fq && k.q > b.loQ) { b.loQ = k.q; b.loS = k.stage }
      if (k.q > k.fq && k.q < b.hiQ) { b.hiQ = k.q; b.hiS = k.stage }
      if (k.q < b.minQ) { b.minQ = k.q; b.minS = k.stage }
      if (k.q > b.maxQ) { b.maxQ = k.q; b.maxS = k.stage }
      b
    }
    def merge(a: InterpBuf, b: InterpBuf): InterpBuf = {
      if (b.n > 0) {
        a.fq = b.fq; a.n += b.n
        if (b.loQ > a.loQ) { a.loQ = b.loQ; a.loS = b.loS }
        if (b.hiQ < a.hiQ) { a.hiQ = b.hiQ; a.hiS = b.hiS }
        if (b.minQ < a.minQ) { a.minQ = b.minQ; a.minS = b.minS }
        if (b.maxQ > a.maxQ) { a.maxQ = b.maxQ; a.maxS = b.maxS }
      }
      a
    }
    def finish(b: InterpBuf): Double =
      if (b.n == 0) Double.NaN
      else if (b.loQ == Double.NegativeInfinity) b.minS // Q below all knots
      else if (b.hiQ == Double.PositiveInfinity) b.maxS // Q above all knots
      else b.loS + (b.fq - b.loQ) * (b.hiS - b.loS) / (b.hiQ - b.loQ)
    def bufferEncoder: Encoder[InterpBuf] = Encoders.product[InterpBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  def interpUdaf: Column =
    udaf(new InterpAgg, Encoders.product[Knot])
      .apply(col("stage"), col("discharge_cms"), col("discharge"))
}
