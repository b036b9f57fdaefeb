package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.synth.Synth

/** The broadcast rating-curve index against the relational interp over the
  * SRC knots (`Synth.hydrotable ⋈ forecast` grouped with `stageExpr`), bit
  * for bit, and its ladders against every hydrotable row. */
class RatingCurvesSpec extends SparkTestBase {
  import spark.implicits._

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  test("index ladders == every hydrotable row (one curve formula, two written forms)") {
    val curves = RatingInterp.curvesOf(spark)
    val ht = Synth.hydrotable(spark)
      .select(col("hydroid"), col("feature_id"), col("lake_id"), col("i"), col("stage"), col("discharge_cms"))
      .as[(Long, Long, Int, Int, Double, Double)]
    val n = Synth.CatRows * Synth.CatCols
    assert(ht.count() == n.toLong * Synth.StageKnots) // 1 741 824
    // a row disagrees when the closed form or (for a non-lake catchment)
    // the index ladder differs from it in any bit, or a lake has a curve
    val differ: (Double, Double) => Boolean =
      (a, b) => java.lang.Double.doubleToLongBits(a) != java.lang.Double.doubleToLongBits(b)
    val bad = ht.filter { r =>
      val (h, f, lake, i, s, q) = r
      val c = curves.value
      val slot = c.slotOf(f)
      differ(Synth.stageOf(i), s) || differ(Synth.dischargeOf(h, s), q) ||
        (lake != -999) != (slot < 0) ||
        (slot >= 0 && (c.hydroidOf(slot) != h || differ(c.knotStage(i), s) ||
          differ(c.knotDischarge(slot, i), q)))
    }
    assert(bad.count() == 0L, bad.take(5).mkString(", "))
    val c = RatingInterp.curves
    assert(c.curves == n - (0 until n).count(_ % 97 == 0) && c.ladders == 35 && c.knots == Synth.StageKnots, c)
  }

  test("stages(spark, fc) == hydrotable ⋈ fc grouped with stageExpr, bit for bit, over a discharge sweep") {
    val ladders = 35 // (h % 7, h % 5): h's ladder is h % 35
    val knots = Synth.StageKnots
    val ht = Synth.hydrotable(spark)
    // sweep point k of catchment h, from the hydrotable's own knots: below,
    // 0, an exact knot, a knot midpoint, the last knot, above it, NaN; the
    // knot index rotates with h / 35, so each ladder meets every knot
    def knotQ(i: org.apache.spark.sql.Column) =
      ht.filter(col("i") === i).select(col("hydroid"), col("discharge_cms"))
    val at = (col("hydroid") / ladders).cast("int")
    val exact = knotQ(at % knots).withColumnRenamed("discharge_cms", "q_exact")
    val lo = knotQ(at % (knots - 1)).withColumnRenamed("discharge_cms", "q_lo")
    val hi = ht.filter(col("i") === at % (knots - 1) + 1)
      .select(col("hydroid"), col("discharge_cms").as("q_hi"))
    val last = knotQ(lit(knots - 1)).withColumnRenamed("discharge_cms", "q_last")
    val sweep = Seq[(String, org.apache.spark.sql.Column)](
      "below" -> lit(-1.0), "zero" -> lit(0.0), "exact" -> col("q_exact"),
      "midpoint" -> (col("q_lo") + col("q_hi")) / 2, "last" -> col("q_last"),
      "above" -> (col("q_last") + 1.0), "far above" -> col("q_last") * 3.0,
      "nan" -> lit(Double.NaN), "null" -> lit(null).cast("double"))
    val base = SpatialJoin.attributes(spark).select(col("hydroid").cast("long").as("hydroid"), col("feature_id"))
      .join(exact, "hydroid").join(lo, "hydroid").join(hi, "hydroid").join(last, "hydroid")
      .cache()
    try {
      val nonLake = (0 until Synth.CatRows * Synth.CatCols).filter(_ % 97 != 0).map(_.toLong).toSet
      sweep.foreach { case (name, q) =>
        // one unknown feature rides along; lakes are in every forecast
        val fc = base.select(col("feature_id"), q.as("discharge"))
          .unionByName(Seq((42L, 1.0)).toDF("feature_id", "discharge"))
        val got = RatingInterp.stages(spark, fc).as[(Long, Double)].collect()
        val want = RatingInterp.stages(ht, fc).as[(Long, Double)].collect().toMap
        assert(got.length == nonLake.size && got.map(_._1).toSet == nonLake, name)
        assert(want.keySet == nonLake, name)
        val diff = got.filter { case (h, s) => bits(s) != bits(want(h)) }
        assert(diff.isEmpty, s"$name: ${diff.take(5).map { case (h, s) => (h, s, want(h)) }.mkString(", ")}")
      }
    } finally base.unpersist()
  }

  test("index build rejects non-rising ladders, duplicate features and negative hydroids") {
    val stages = Array(0.0, 1.0, 2.0)
    def build(rows: (Long, Int, Array[Double])*) = RatingCurves.build(stages, rows.iterator)
    val ok = build((7L, 1, Array(0.0, 2.0, 4.0)), (5L, 2, Array(0.0, 2.0, 4.0)), (6L, 3, Array(0.0, 1.0, 5.0)))
    assert(ok.curves == 3 && ok.ladders == 2 && ok.slotOf(8L) == -1)
    assert(ok.hydroidOf(ok.slotOf(5L)) == 2 && ok.stage(ok.slotOf(6L), 3.0) == 1.5)
    intercept[IllegalArgumentException](build((1L, 1, Array(0.0, 2.0, 2.0))))
    intercept[IllegalArgumentException](build((1L, 1, Array(0.0, 2.0, 4.0)), (1L, 2, Array(0.0, 1.0, 4.0))))
    intercept[IllegalArgumentException](build((1L, -1, Array(0.0, 2.0, 4.0))))
    intercept[IllegalArgumentException](RatingCurves.build(Array(0.0, 0.0), Iterator.empty))
  }
}
