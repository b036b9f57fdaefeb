package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import graft.ops.{CatFim, RatingInterp}
import graft.synth.Synth

/** Structured-Streaming front end: the reference is batch-only (forecast CSV
  * per run, `tools/inundation.py:596-606`); the Spark-native engine upgrades
  * the forecast side to a stream — each micro-batch of (feature_id,
  * discharge, event_ts) recomputes interpolated stages against the static
  * rating curves, with a watermark for late forecasts.
  */
object ForecastStream {

  val forecastSchema: StructType = StructType(Seq(
    StructField("feature_id", LongType), StructField("discharge", DoubleType),
    StructField("event_ts", TimestampType)))

  /** Windowed per-feature max-discharge stream (watermarked). */
  def windowedMaxDischarge(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(forecastSchema).parquet(dir)
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes"), col("feature_id"))
      .agg(max(col("discharge")).as("discharge"), count(lit(1)).as("n_updates"))

  /** Per-micro-batch stage recomputation: each batch's per-feature max
    * discharge through the broadcast rating curves, via foreachBatch (the
    * operational pattern: each batch is "a forecast run"). */
  def stagesPerBatch(spark: SparkSession, dir: String)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(forecastSchema).parquet(dir)
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val fc = batch.select(col("feature_id"), col("discharge"))
          .groupBy("feature_id").agg(max("discharge").as("discharge"))
        sink(RatingInterp.stages(spark, fc), id)
      }
      .start()

  val pageSchema: StructType = StructType(Seq(
    StructField("pid", LongType), StructField("event_ts", TimestampType)))

  /** Streaming tiles: a stream of page ids is geocoded, PIP-assigned against
    * the broadcast catchment set, classified against precomputed stages, and
    * aggregated to watermarked per-window wet/dry counts — the incremental
    * form of the flagship batch query (same operators, streaming source). */
  def streamingTiles(spark: SparkSession, dir: String,
      stages: DataFrame): DataFrame = {
    val pages = spark.readStream.schema(pageSchema).parquet(dir)
    val assigned = graft.ops.SpatialJoin.assign(spark, Synth.withGeo(pages))
    assigned
      .join(org.apache.spark.sql.functions.broadcast(stages), "hydroid")
      .withColumn("wet", (graft.pipeline.Inundate.depthAt(col("stage_m")) > 0).cast("int"))
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes"), col("huc8"))
      .agg(count(lit(1)).as("n_pages"), sum(col("wet")).as("n_wet"))
  }

  val gageSchema: StructType = StructType(Seq(
    StructField("feature_id", LongType), StructField("obs_stage", DoubleType),
    StructField("obs_ts", TimestampType)))

  /** Stream–stream inner join (forecast stream ⋈ gage-observation stream):
    * each forecast pairs with the observations of the same feature arriving
    * within [event_ts, event_ts + 10 min] — the canonical watermarked
    * interval join, so both sides' state stores are bounded (rows older than
    * watermark + interval are evicted). This is the streaming form of the
    * reference's forecast-vs-USGS-gage comparison that its batch eval does
    * offline (`tools/tools_shared_functions.py` gage paths). */
  def forecastObsJoin(spark: SparkSession, fcDir: String, obsDir: String): DataFrame = {
    val fc = spark.readStream.schema(forecastSchema).parquet(fcDir)
      .withWatermark("event_ts", "20 minutes")
    val obs = spark.readStream.schema(gageSchema).parquet(obsDir)
      .withWatermark("obs_ts", "20 minutes")
    fc.join(obs,
      fc("feature_id") === obs("feature_id") &&
        col("obs_ts") >= col("event_ts") &&
        col("obs_ts") <= col("event_ts") + expr("INTERVAL 10 MINUTES"))
      .select(fc("feature_id").as("feature_id"), col("discharge"), col("obs_stage"),
        col("event_ts"), col("obs_ts"))
  }

  final case class CatState(cat: Int)
  final case class CatTransition(featureId: Long, prevCat: Int, newCat: Int, discharge: Double)

  /** Streaming flow-based CatFIM alerting: each forecast update is classified
    * against the site's 5-magnitude threshold ladder (the same deterministic
    * table as q55), and `flatMapGroupsWithState` keeps the last category per
    * site, emitting a row ONLY on a category transition — alert semantics
    * (a pager wants changes, not every update). First sighting transitions
    * from category −1. */
  def categoryTransitions(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[CatTransition] = {
    import spark.implicits._
    spark.readStream.schema(forecastSchema).parquet(dir)
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (fid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         st: GroupState[CatState]) =>
          // the batch q55 ladder (CatFim.siteThresholds), so a site and its
          // streaming alerts classify against the same thresholds
          val hydroid = Synth.hydroidOf(fid)
          var prev = st.getOption.map(_.cat).getOrElse(-1)
          val out = scala.collection.mutable.Buffer.empty[CatTransition]
          rows.toSeq.sortBy(r => r._3.getTime).foreach { r =>
            val c = CatFim.categoryOf(hydroid, r._2)
            if (c != prev) { out += CatTransition(fid, prev, c, r._2); prev = c }
          }
          st.update(CatState(prev))
          out.iterator
      }
  }

  final case class FeatureState(featureId: Long, maxQ: Double, n: Long)

  /** Stateful running max discharge per feature across all micro-batches
    * (KeyValueGroupedDataset.mapGroupsWithState — custom state op). */
  def runningMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.schema(forecastSchema).parquet(dir)
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (fid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)], st: GroupState[FeatureState]) =>
          val prev = st.getOption.getOrElse(FeatureState(fid, Double.NegativeInfinity, 0L))
          val batchMax = rows.foldLeft(prev) { (acc, r) =>
            FeatureState(fid, math.max(acc.maxQ, r._2), acc.n + 1)
          }
          st.update(batchMax)
          batchMax
      }
      .toDF()
  }
}
