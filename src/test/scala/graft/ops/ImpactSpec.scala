package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.pipeline.Inundate

/** q106-q110 invariants: rollup consistency, the LEFT-merge TP quirk,
  * exact-IDW partitioning invariance, mask accounting. */
class ImpactSpec extends SparkTestBase {

  lazy val mosaic = Inundate.run(spark, sf0001).cache()

  test("aggregate metrics: counts are the exact sums of the per-catchment rows") {
    val per = Agreement.alphaByHydroId(spark, mosaic)
      .groupBy(col("bench"), col("mag"))
      .agg(sum(col("tp")).as("tp_sum"), count(lit(1)).as("n"))
    val agg = Agreement.aggregateMetrics(spark, mosaic)
      .select(col("bench"), col("mag"), col("tp"), col("n_cases"))
    val joined = per.join(agg, Seq("bench", "mag"))
    assert(joined.count() == Agreement.MasterCombos.size)
    assert(joined.filter(col("tp_sum") =!= col("tp")
      || col("n") =!= col("n_cases")).count() == 0)
  }

  test("NA guards: a guarded statistic is NULL exactly where its denominator is zero") {
    import spark.implicits._
    // (tn, fn, fp, tp) rows that zero each denominator in turn (the total
    // stays positive, as in the per-catchment and national projections)
    val rows = Seq((0L, 0L, 0L, 5L), (4L, 0L, 0L, 0L), (0L, 3L, 0L, 0L), (0L, 0L, 2L, 0L),
      (6L, 0L, 3L, 0L), (9L, 1L, 0L, 0L), (0L, 4L, 5L, 6L), (5L, 2L, 3L, 7L),
      (123456789L, 2345L, 678L, 91011L))
    // (value, denominator) of each statistic in plain Scala doubles, same operation order
    def expected(name: String, r: (Long, Long, Long, Long)): (Double, Double) = {
      val (tn, fn, fp, tp) = (r._1.toDouble, r._2.toDouble, r._3.toDouble, r._4.toDouble)
      val tot = (r._1 + r._2 + r._3 + r._4).toDouble
      val aref = (tp + fp) * (tp + fn) / tot
      name match {
        case "csi" => (tp / (tp + fp + fn), tp + fp + fn)
        case "tpr" => (tp / (tp + fn), tp + fn)
        case "far" => (fp / (tp + fp), tp + fp)
        case "mcc" => val d = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
          ((tp * tn - fp * fn) / math.sqrt(d), d)
        case "acc" => ((tp + tn) / (tp + tn + fp + fn), tp + tn + fp + fn)
        case "f1" => (tp * 2 / (tp * 2 + fp + fn), tp * 2 + fp + fn)
        case "bias" => ((tp + fp) / (tp + fn), tp + fn)
        case "tnr" => (tn / (tn + fp), tn + fp)
        case "ppv" => (tp / (tp + fp), tp + fp)
        case "npv" => (tn / (tn + fn), tn + fn)
        case "bal_acc" => ((tp / (tp + fn) + tn / (tn + fp)) / 2.0, (tp + fn) * (tn + fp))
        case "prevalence" => ((tp + fn) / tot, tot)
        case "equitable_threat_score" => ((tp - aref) / (tp + fp + fn - aref), tp + fp + fn - aref)
      }
    }
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def eval(rs: Seq[(Long, Long, Long, Long)], f: (Column, Column, Column, Column) => Column) =
      rs.toDF("tn", "fn", "fp", "tp").select(f(col("tn"), col("fn"), col("fp"), col("tp")))
        .collect().toSeq.map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    (Agreement.NaStats.map(_._1) :+ "acc").foreach { name =>
      val guarded = eval(rows, Agreement.naStat(name, _, _, _, _))
      rows.zip(guarded).foreach { case (r, g) =>
        assert(g.isEmpty == (expected(name, r)._2 == 0.0), s"$name at $r: $g")
        // where the denominator is not zero: the plain Scala double, bit for bit
        g.foreach(v => assert(bits(v) == bits(expected(name, r)._1), s"$name at $r"))
      }
    }
  }

  test("all-dry evaluation under ANSI mode: zero denominators give NULL metrics, not DIVIDE_BY_ZERO") {
    import spark.implicits._
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // two all-TN cells: tp + fp = tp + fn = tp + fp + fn = 0
      val m = Agreement.metrics(Seq((1L, 0), (2L, 0)).toDF("cell", "agreement")).head()
      assert(m.getAs[Long]("tn") == 2L && m.getAs[Long]("tp") == 0L)
      Seq("csi", "tpr", "far", "mcc", "f1", "bias").foreach(s => assert(m.isNullAt(m.fieldIndex(s)), s))
      assert(m.getAs[Double]("acc") == 1.0)
      val full = Agreement.fullMetrics(Seq((1L, 0), (2L, 0)).toDF("cell", "agreement")).head()
      Seq("ppv", "pnd", "bal_acc", "positive_likelihood_ratio", "prevalence_threshold")
        .foreach(s => assert(full.isNullAt(full.fieldIndex(s)), s))
      assert(full.getAs[Double]("tn_perc") == 100.0)
      // an all-dry mosaic: nothing predicted wet in any combo
      val dry = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("cell", "depth_max")
      assert(Agreement.masterMetrics(dry).filter(col("far").isNotNull).count() == 0L)
      assert(Agreement.versionRegression(dry).filter(col("stat") === "far" && col("value").isNotNull)
        .count() == 0L)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("flood impact: the reference's LEFT-merge TP equals ALL benchmark-impacted") {
    val row = Impact.floodImpact(spark, mosaic).head()
    val tp = row.getAs[Long]("tp"); val fn = row.getAs[Long]("fn")
    val sb = row.getAs[Long]("n_struct_bench"); val rb = row.getAs[Long]("n_road_bench")
    // the quirk: tp = every benchmark-impacted feature (so tp >= fn always,
    // and tp = n_struct_bench + n_road_bench)
    assert(tp == sb + rb)
    assert(fn <= tp)
    assert(row.getAs[Double]("csi") > 0.0 && row.getAs[Double]("csi") <= 1.0)
  }

  test("interpolated WSE is partitioning-invariant (integer-weighted IDW)") {
    val a = Terrain.interpolateWse(spark)
      .select(col("gid"), col("wse_filled")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "5")
    val b = Terrain.interpolateWse(s2)
      .select(col("gid"), col("wse_filled")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a == b) // bit-identical, not approximately equal
    // filled values interpolate: every filled cell sits inside the global
    // valid WSE range
    val g = Terrain.interpolateWse(spark).cache()
    val Seq(lo, hi) = Seq(min(col("wse_filled")), max(col("wse_filled")))
      .map(e => g.filter(col("valid") === 1).agg(e).head().getDouble(0))
    assert(g.filter(col("valid") === 0 && col("wse_filled") =!= -9999.0
      && (col("wse_filled") < lo || col("wse_filled") > hi)).count() == 0)
    g.unpersist()
  }

  test("deep flooding: every reported polygon's deep count is consistent") {
    val out = Impact.deepFlooding(spark, mosaic).cache()
    assert(out.count() > 0)
    assert(out.filter(col("n_deep") > col("n_cells")).count() == 0)
    assert(out.filter(col("n_deep") > 0 && col("max_deep") <= 2.0).count() == 0)
    assert(out.filter(col("n_deep") === 0 && col("max_deep").isNotNull).count() == 0)
    // each mask's counts == a driver-side any-match of every cell centroid
    val want = mosaic.select(col("cell"), col("depth_max")).collect().toSeq.flatMap { r =>
      val (lat, lng) = graft.geo.Cells.centroid(r.getLong(0))
      graft.synth.Synth.maskList.filter(m => graft.geo.Geom.contains(m.ring, lng, lat))
        .map(m => (m.mask_id.toLong, r.getDouble(1)))
    }.groupBy(_._1).map { case (k, v) => k -> (v.size.toLong, v.count(_._2 > 2.0).toLong) }
    val got = out.select(col("mask_id"), col("n_cells"), col("n_deep")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    out.unpersist()
  }
}
