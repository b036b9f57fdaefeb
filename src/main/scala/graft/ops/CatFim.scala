package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Flow-based categorical FIM (q55) —
  * `tools/catfim/generate_categorical_fim_flows.py:148-300` +
  * `generate_categorical_fim.py:1060-1190`: each AHPS site carries a
  * per-magnitude threshold FLOW table (action / minor / moderate / major /
  * record); each magnitude's flow is pushed through the site's rating curve
  * (np.interp) to get the categorical inundation stage, and the current
  * forecast classifies which categories are active (forecast ≥ threshold
  * flow).
  *
  * Scale shape: the site×magnitude dimension (~5 rows per gage) is broadcast
  * into the hydrotable knot scan; the interp is the same conditional
  * aggregation as the flagship's A5 (partial-agg friendly, grouped by
  * (site, magnitude)); the forecast join is a broadcast. No wide shuffle.
  */
object CatFim {

  val Magnitudes: Seq[String] = Seq("action", "minor", "moderate", "major", "record")

  /** The name of magnitude `m` among the first `n` [[Magnitudes]]; `m` past
    * the last but one reads as the last. */
  private def magnitudeName(n: Int): Column = {
    val names = Magnitudes.take(n)
    (1 until n - 1).foldLeft(when(col("m") === 0, lit(names.head))) {
      (ladder, m) => ladder.when(col("m") === m, lit(names(m)))
    }.otherwise(lit(names.last))
  }

  /** The AHPS sites: every 41st non-lake catchment. */
  private def sites(spark: SparkSession): DataFrame =
    Synth.hydroids(spark)
      .filter(col("hydroid") % 41 === 0 && !Synth.isLake(col("hydroid")))

  // site h's base flow is ((h·SiteMul + SiteAdd) mod SiteMod)/10 + 5
  private val SiteMul = 53; private val SiteAdd = 11; private val SiteMod = 4000

  /** The threshold ladder (the WRDS threshold table analog): per site and
    * magnitude m the flow base·(1 + 0.75·m), each 75 % above the last. */
  def siteThresholds(spark: SparkSession): DataFrame =
    sites(spark)
      .withColumn("m", explode(sequence(lit(0), lit(4))))
      .withColumn("magnitude", magnitudeName(5))
      .withColumn("discharge",
        (((col("hydroid") * SiteMul + SiteAdd) % SiteMod) / lit(10.0) + lit(5.0))
          * (lit(1.0) + col("m") * lit(0.75)))

  /** The category a discharge `q` puts site `hydroid` in: how many of its
    * [[Magnitudes]] thresholds ([[siteThresholds]]) `q` reaches, 0..5. */
  def categoryOf(hydroid: Long, q: Double): Int = {
    val base = ((hydroid * SiteMul + SiteAdd) % SiteMod) / 10.0 + 5.0
    Magnitudes.indices.count(m => q >= base * (1.0 + m * 0.75))
  }

  /** Stage-interval generation (q67) —
    * `generate_categorical_fim.py:1116-1190` (`__calc_stage_intervals`): for
    * each non-record stage threshold, emit the whole-number interval stages
    * up to the next threshold (or +5 past major): lo = floor(t) + 1 if t is
    * whole else floor(t) + 2 (= ceil + 1), hi exclusive = floor(t_next).
    * The reference's claimed-value dedup is VACUOUS for monotone thresholds
    * (interval ranges are disjoint and every interval exceeds all prior
    * whole thresholds — the guard exists for degenerate WRDS data), so the
    * relational form needs no anti-join; empty ranges (equal adjacent
    * thresholds, step 0 sites) simply generate nothing. */
  def stageIntervals(spark: SparkSession): DataFrame = {
    val base = lit(1.0) + (col("hydroid") % 4) * lit(0.5)
    val step = (col("hydroid") % 3) * lit(1.5)
    sites(spark)
      .withColumn("m", explode(sequence(lit(0), lit(3))))
      .withColumn("t", base + col("m") * step)
      .withColumn("t_next", base + (col("m") + 1) * step)
      .withColumn("lo",
        (floor(col("t")) + when(col("t") === floor(col("t")), 1).otherwise(2)).cast("long"))
      .withColumn("hi",
        when(col("m") < 3, floor(col("t_next")).cast("long")).otherwise(col("lo") + 5))
      .filter(col("hi") - 1 >= col("lo"))
      .withColumn("interval_stage", explode(sequence(col("lo"), col("hi") - 1)))
      .select(col("hydroid"), magnitudeName(4).as("category"), col("interval_stage"))
  }

  /** Site-acceptance workflow (q75) — the CatFIM pre-flight that decides
    * which AHPS sites get mapped at all
    * (`tools/catfim/generate_categorical_fim_flows.py:370-440`: sites are
    * rejected for missing thresholds, flows outside the rating curve's
    * domain, or unacceptable coordinate-accuracy codes). Checks per site:
    * all 5 magnitudes present, record flow within the rating curve's range
    * (interp would otherwise clamp), and a coordinate-accuracy analog
    * (`hydroid % 11 = 3` plays the bad `coord_acc_cd`).
    *
    * Scale shape: the threshold dimension is tiny (broadcast); the only scan
    * over the big SRC is one partial-aggregating max per hydroid. */
  def siteAcceptance(spark: SparkSession): DataFrame = {
    val thr = siteThresholds(spark)
    val rec = thr.filter(col("magnitude") === Magnitudes.last)
      .select(col("hydroid"), col("discharge").as("record_flow"))
    val mags = thr.groupBy(col("hydroid")).agg(count(lit(1)).as("n_mags"))
    val qmax = Synth.hydrotable(spark)
      .groupBy(col("hydroid")).agg(max(col("discharge_cms")).as("q_curve_max"))
    qmax.join(broadcast(rec), "hydroid").join(broadcast(mags), "hydroid")
      .withColumn("flow_in_range", (col("record_flow") <= col("q_curve_max")).cast("int"))
      .withColumn("coord_ok", (col("hydroid") % 11 =!= 3).cast("int"))
      .withColumn("accepted",
        (col("flow_in_range") === 1 && col("coord_ok") === 1 && col("n_mags") === 5).cast("int"))
      .select(col("hydroid"), col("n_mags"), col("record_flow"), col("q_curve_max"),
        col("flow_in_range"), col("coord_ok"), col("accepted"))
  }

  /** (hydroid, magnitude, mag_flow, stage_m, is_active): categorical stage
    * per site and magnitude + whether the current forecast activates it. */
  def catfimFlow(spark: SparkSession): DataFrame = {
    val ht = Synth.hydrotable(spark).filter(col("lake_id") === -999)
    val interp = ht.join(broadcast(siteThresholds(spark)), "hydroid")
      .groupBy(col("hydroid"), col("m"), col("magnitude"), col("discharge"))
      .agg(RatingInterp.stageExpr.as("stage_m"))
    val qNow = Synth.forecast(spark)
      .select(Synth.hydroidOf(col("feature_id")).as("hydroid"), col("discharge").as("q_now"))
    interp.join(broadcast(qNow), "hydroid")
      .select(col("hydroid"), col("magnitude"),
        col("discharge").as("mag_flow"), col("stage_m"),
        (col("q_now") >= col("discharge")).cast("int").as("is_active"))
  }
}
