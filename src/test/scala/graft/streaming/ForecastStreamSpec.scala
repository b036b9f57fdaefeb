package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.ops.CatFim
import graft.synth.Synth
import java.nio.file.Files

class ForecastStreamSpec extends SparkTestBase {

  private def writeBatch(dir: String, rows: Seq[(Long, Double, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("feature_id", "discharge", "secs")
      .select(col("feature_id"), col("discharge"),
        timestamp_seconds(col("secs")).as("event_ts"))
      .coalesce(1).write.mode("append").parquet(dir)
  }

  test("windowed max discharge over a forecast stream (watermark + window agg)") {
    val dir = Files.createTempDirectory("graft_stream").toString
    writeBatch(dir, Seq((1000001L, 5.0, 1000L), (1000001L, 9.0, 1100L), (1000002L, 2.0, 1000L)))
    val q = ForecastStream.windowedMaxDischarge(spark, dir)
      .writeStream.outputMode("complete").format("memory").queryName("wmax").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT feature_id, discharge, n_updates FROM wmax").collect()
      assert(rows.nonEmpty)
      val byFeature = rows.map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(byFeature(1000001L) == ((9.0, 2L)))
      assert(byFeature(1000002L) == ((2.0, 1L)))
    } finally q.stop()
  }

  test("per-micro-batch stage recomputation via foreachBatch (stream-static join)") {
    val dir = Files.createTempDirectory("graft_stream2").toString
    writeBatch(dir, Seq((1000199L, 50.0, 1000L)))
    @volatile var captured: Map[Long, Double] = Map.empty
    val q = ForecastStream.stagesPerBatch(spark, dir) { (stages, _) =>
      val m = stages.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      if (m.nonEmpty) captured = m
    }
    try {
      q.processAllAvailable()
      assert(captured.contains(199L))
      // equals the relational interp over the SRC knots for the same forecast
      import spark.implicits._
      val ht = Synth.hydrotable(spark).filter(Synth.isGage(col("hydroid")))
      val fc = Seq((1000199L, 50.0)).toDF("feature_id", "discharge")
      val expect = graft.ops.RatingInterp.stages(ht, fc).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(captured(199L) == expect(199L))
    } finally q.stop()
  }

  test("streaming tiles: pages stream → PIP assign → windowed wet counts") {
    val dir = Files.createTempDirectory("graft_stream4").toString
    import spark.implicits._
    Seq((8L, 1000L), (16L, 1100L), (24L, 1400L))
      .toDF("pid", "secs")
      .select(col("pid"), timestamp_seconds(col("secs")).as("event_ts"))
      .coalesce(1).write.mode("append").parquet(dir)
    val stages = graft.ops.RatingInterp.stages(spark, Synth.forecast(spark))
    val q = ForecastStream.streamingTiles(spark, dir, stages)
      .writeStream.outputMode("complete").format("memory").queryName("stiles").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT huc8, n_pages, n_wet FROM stiles").collect()
      assert(rows.nonEmpty)
      assert(rows.map(_.getLong(1)).sum >= 1) // lake pids may drop
      rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    } finally q.stop()
  }

  test("stream-stream interval join: forecast x gage observations within 10 min") {
    import spark.implicits._
    val fcDir = Files.createTempDirectory("graft_ss_fc").toString
    val obsDir = Files.createTempDirectory("graft_ss_obs").toString
    writeBatch(fcDir, Seq((1000001L, 5.0, 1000L), (1000002L, 7.0, 1000L)))
    Seq((1000001L, 1.2, 1300L),   // within 10 min of the feature-1 forecast
        (1000001L, 9.9, 2000L),   // too late (> 10 min)
        (1000003L, 3.3, 1100L))   // no matching forecast feature
      .toDF("feature_id", "obs_stage", "secs")
      .select(col("feature_id"), col("obs_stage"),
        timestamp_seconds(col("secs")).as("obs_ts"))
      .coalesce(1).write.mode("append").parquet(obsDir)
    val q = ForecastStream.forecastObsJoin(spark, fcDir, obsDir)
      .writeStream.outputMode("append").format("memory").queryName("ssjoin").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT feature_id, discharge, obs_stage FROM ssjoin").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1000001L, 5.0, 1.2)))
    } finally q.stop()
  }

  test("streaming CatFIM transitions: category changes emit, repeats stay silent") {
    val dir = Files.createTempDirectory("graft_cat").toString
    // hydroid 41 is a real q55 site (41 % 41 == 0); its action threshold is
    // the ladder's base flow
    val fid = Synth.featureIdOf(41)
    val base = CatFim.siteThresholds(spark)
      .filter(col("hydroid") === 41 && col("m") === 0).head().getAs[Double]("discharge")
    val qs = Seq(base * 0.5, base * 2.0, base * 2.1) // below action; >= 1x and 1.75x; same
    assert(qs.map(CatFim.categoryOf(41L, _)) == Seq(0, 2, 2))
    writeBatch(dir, Seq((fid, qs(0), 1000L)))
    val q = ForecastStream.categoryTransitions(spark, dir)
      .writeStream.outputMode("update").format("memory").queryName("cattr").start()
    try {
      q.processAllAvailable()
      writeBatch(dir, Seq((fid, qs(1), 2000L)))
      q.processAllAvailable()
      writeBatch(dir, Seq((fid, qs(2), 3000L)))              // same category → silent
      q.processAllAvailable()
      val rows = spark.sql("SELECT prevCat, newCat FROM cattr WHERE featureId = " + fid)
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(rows == Seq((-1, 0), (0, 2)), rows.toString)
    } finally q.stop()
  }

  test("streaming and batch CatFIM agree: each q55 threshold opens its category") {
    // categoryOf (the streaming classifier) against siteThresholds (q55's
    // ladder): a site's magnitude-m discharge is in category m + 1, and the
    // next double below it is still in category m
    val thr = CatFim.siteThresholds(spark)
      .select(col("hydroid"), col("m"), col("discharge")).collect()
    assert(thr.length == 5 * thr.map(_.getLong(0)).distinct.length && thr.length > 0)
    thr.foreach { r =>
      val (h, m, q) = (r.getLong(0), r.getInt(1), r.getDouble(2))
      assert(CatFim.categoryOf(h, q) == m + 1, s"site $h magnitude $m at $q")
      assert(CatFim.categoryOf(h, math.nextDown(q)) == m, s"site $h magnitude $m below $q")
    }
  }

  test("stateful running max across micro-batches (mapGroupsWithState)") {
    val dir = Files.createTempDirectory("graft_stream3").toString
    writeBatch(dir, Seq((7L, 3.0, 1000L)))
    val q = ForecastStream.runningMax(spark, dir)
      .writeStream.outputMode("update").format("memory").queryName("rmax").start()
    try {
      q.processAllAvailable()
      writeBatch(dir, Seq((7L, 11.0, 2000L), (8L, 1.0, 2000L)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT featureId, maxQ, n FROM rmax").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // state accumulated: feature 7 saw 2 updates, max 11
      assert(rows.contains((7L, 11.0, 2L)))
      assert(rows.contains((8L, 1.0, 1L)))
    } finally q.stop()
  }
}
