package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import graft.SparkTestBase
import graft.synth.Synth
import graft.pipeline.Inundate

class OpsSpec extends SparkTestBase {

  lazy val points = Synth.points(spark, sf0001).cache()

  test("spatial join assigns every point exactly once, matching grid truth") {
    val assigned = SpatialJoin.assign(spark, points)
    assert(assigned.count() == points.count())
    val rows = assigned.select("pid", "lat", "lng", "hydroid").collect()
    rows.foreach { r =>
      assert(r.getInt(3) == Synth.hydroidOf(r.getDouble(1), r.getDouble(2)),
        s"pid=${r.getLong(0)}")
    }
  }

  test("grid twins: hydrotable huc8 == huc8Of, Column centroid == catchmentList's, every hydroid") {
    import spark.implicits._
    val n = Synth.CatRows * Synth.CatCols
    val huc8 = Synth.hydrotable(spark).filter(col("i") === 0)
      .select(col("hydroid"), col("huc8")).as[(Long, String)].collect()
    assert(huc8.length == n)
    val badHuc = huc8.filter { case (h, s) => s != Synth.huc8Of(h.toInt) }
    assert(badHuc.isEmpty, badHuc.take(5).mkString(", "))
    val h = col("hydroid")
    val cents = Synth.hydroids(spark).select(h, Synth.latCOf(h), Synth.lngCOf(h))
      .as[(Long, Double, Double)].collect()
    assert(cents.length == n)
    val bits: Double => Long = java.lang.Double.doubleToLongBits
    val badCent = cents.filter { case (k, lat, lng) =>
      val c = Synth.catchmentList(k.toInt)
      bits(lat) != bits(c.lat_c) || bits(lng) != bits(c.lng_c)
    }
    assert(badCent.isEmpty, badCent.take(5).mkString(", "))
    // the assign join's attribute table: closed forms == the driver list
    val attrs = SpatialJoin.attributes(spark)
    assert(attrs.schema.map(f => f.name -> f.dataType) == Seq("hydroid" -> IntegerType,
      "feature_id" -> LongType, "huc8" -> StringType, "lake_id" -> IntegerType, "order_" -> IntegerType),
      attrs.schema.treeString)
    val got = attrs.as[(Int, Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    val want = Synth.catchmentList.map(c => (c.hydroid, c.feature_id, c.huc8, c.lake_id, c.order_))
    assert(got.length == n)
    val badAttr = got.zip(want).filter { case (g, w) => g != w }
    assert(badAttr.isEmpty, badAttr.take(5).mkString(", "))
    // the gage set: closed forms == the driver list's gage centroids
    val gages = Synth.gages(spark)
    assert(gages.schema.map(f => f.name -> f.dataType) ==
      Seq("hydroid" -> IntegerType, "lat_c" -> DoubleType, "lng_c" -> DoubleType),
      gages.schema.treeString)
    val gotGages = gages.as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
      .map { case (k, lat, lng) => (k, bits(lat), bits(lng)) }
    val wantGages = Synth.catchmentList.filter(c => Synth.isGage(c.hydroid))
      .map(c => (c.hydroid, bits(c.lat_c), bits(c.lng_c)))
    assert(gotGages == wantGages)
  }

  test("reach networks: closed forms == driver reference, every hydroid") {
    import spark.implicits._
    val n = Synth.CatRows * Synth.CatCols
    // the reference topology: local (lr, lc) in the HUC block; lr == 0 is an
    // outlet, else the reach drains to row r − 1 at local column downLc(lc)
    def downstreamOf(h: Int, downLc: Int => Int): Int = {
      val r = h / Synth.CatCols; val c = h % Synth.CatCols
      val lr = r % Synth.HucCatRows; val lc = c % Synth.HucCatRows
      if (lr == 0) -1 else (r - 1) * Synth.CatCols + (c - lc + downLc(lc))
    }
    val clamped = (lc: Int) => {
      val lcp = lc + (lc % 3 - 1)
      if (lcp < 0 || lcp >= Synth.HucCatRows) lc else lcp
    }
    val bits: Double => Long = java.lang.Double.doubleToLongBits
    val reaches = StreamNet.reaches(spark)
    assert(reaches.schema.map(f => f.name -> f.dataType) == Seq("hydroid" -> IntegerType,
      "huc8" -> StringType, "order_" -> IntegerType, "length_km" -> DoubleType,
      "to_node" -> IntegerType, "from_lat" -> DoubleType, "from_lng" -> DoubleType,
      "to_lat" -> DoubleType, "to_lng" -> DoubleType), reaches.schema.treeString)
    val got = reaches.as[(Int, String, Int, Double, Int, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.length == n && got.map(_._1).toSeq == (0 until n))
    val badReach = got.filter { case (h, huc, ord, len, d, flat, flng, tlat, tlng) =>
      val c = Synth.catchmentList(h)
      val want = downstreamOf(h, clamped)
      val (wlat, wlng) =
        if (want < 0) (c.lat_c - Synth.CatH, c.lng_c)
        else (Synth.catchmentList(want).lat_c, Synth.catchmentList(want).lng_c)
      huc != c.huc8 || ord != c.order_ || bits(len) != bits(StreamNet.lengthOf(h)) ||
        d != want || bits(flat) != bits(c.lat_c) || bits(flng) != bits(c.lng_c) ||
        bits(tlat) != bits(wlat) || bits(tlng) != bits(wlng)
    }
    if (badReach.nonEmpty) fail(s"${badReach.length} reaches differ: ${badReach.take(5).mkString(", ")}")
    val conf = NetworkEval.confluenceNet(spark)
    assert(conf.schema.map(f => f.name -> f.dataType) ==
      Seq("hydroid" -> LongType, "huc8" -> StringType, "to_node" -> LongType), conf.schema.treeString)
    val gotConf = conf.as[(Long, String, Long)].collect().sortBy(_._1)
    assert(gotConf.length == n && gotConf.map(_._1).toSeq == (0L until n.toLong))
    val badConf = gotConf.filter { case (h, huc, d) =>
      huc != Synth.huc8Of(h.toInt) || d != downstreamOf(h.toInt, _ / 2).toLong
    }
    if (badConf.nonEmpty) fail(s"${badConf.length} confluence reaches differ: ${badConf.take(5).mkString(", ")}")
  }

  test("driver tables: each declared schema == the schema Spark infers, at every scale") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); (name, schema) <- Synth.TableSchemas) {
      val dir = s"/root/testdata/$sf"
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Synth.table(spark, dir, name).schema == inferred,
        s"$sf/$name declared ${schema.toDDL} inferred ${inferred.toDDL}")
    }
    assert(Synth.TableSchemas.keySet == Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"))
  }

  test("rating interp: bracketing agg == typed Aggregator UDAF (np.interp semantics)") {
    val ht = Synth.hydrotable(spark).filter(col("hydroid") % 37 === 0)
    val fc = Synth.forecast(spark)
    val a = RatingInterp.stages(ht, fc).withColumnRenamed("stage_m", "a")
    val b = ht.filter(col("lake_id") === -999)
      .join(broadcast(fc), "feature_id")
      .groupBy(col("hydroid"))
      .agg(RatingInterp.interpUdaf.as("b"))
    val joined = a.join(b, "hydroid").collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"hydroid=${r.get(0)}"))
  }

  test("interp clamps: Q below first knot → min stage; above last → max stage") {
    import spark.implicits._
    // curve q = 2s (hydroid=1 shape): knots (0,0),(1,2),(2,4)
    val knots = Seq((1L, 1000001L, -999, 0.0, 0.0), (1L, 1000001L, -999, 1.0, 2.0),
      (1L, 1000001L, -999, 2.0, 4.0))
      .toDF("hydroid", "feature_id", "lake_id", "stage", "discharge_cms")
    def stageFor(q: Double): Double = {
      val fc = Seq((1000001L, q)).toDF("feature_id", "discharge")
      RatingInterp.stages(knots, fc).collect()(0).getDouble(1)
    }
    assert(stageFor(-1.0) == 0.0) // clamp below
    assert(stageFor(0.0) == 0.0) // exact first knot
    assert(stageFor(3.0) == 1.5) // interior interp
    assert(stageFor(4.0) == 2.0) // exact last knot
    assert(stageFor(99.0) == 2.0) // clamp above
  }

  test("salted agg == direct groupBy (lossless two-stage)") {
    val salted = SaltedAgg.countAndMax(points, col("ccell"), col("pid"), col("hand"), 32)
    val direct = points.groupBy(col("ccell").as("k"))
      .agg(count(lit(1)).as("n"), max(col("hand")).as("mx"))
    assert(salted.except(direct).isEmpty && direct.except(salted).isEmpty)
  }

  test("knn: within-cap matches brute force; beyond-cap is null") {
    import spark.implicits._
    val gages = Synth.catchmentList.filter(c => Synth.isGage(c.hydroid))
    val got = KnnJoin.nearestGage(spark, points)
      .select("pid", "nn_hydroid", "nn_dist2").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val pts = points.select("pid", "lat", "lng").collect()
    pts.take(500).foreach { r =>
      val (pid, lat, lng) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val best = gages.map(g => (graft.geo.Geom.dist2(lat, lng, g.lat_c, g.lng_c), g.hydroid))
        .filter(_._1 <= KnnJoin.Cap2).sorted.headOption.map(_._2)
      assert(got(pid) == best, s"pid=$pid")
    }
  }

  test("mosaic is partitioning-invariant (permutation-proof aggregates)") {
    val tiles = Inundate.tiles(spark, points).cache()
    val a = Inundate.mosaic(tiles)
    val b = Inundate.mosaic(tiles.repartition(17, col("pid")))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    tiles.unpersist()
  }

  test("depth kernel: depth = max(stage - hand, 0); class sign ⇔ wetness") {
    val tiles = Inundate.tiles(spark, points)
    val bad = tiles.filter(
      (col("depth") < 0) ||
        (col("depth") > 0 && col("clazz") =!= col("hydroid").cast("int")) ||
        (col("depth") === 0 && col("clazz") =!= -col("hydroid").cast("int")) ||
        abs(greatest(col("stage_m") - col("hand"), lit(0.0)) - col("depth")) > 0)
    assert(bad.count() == 0)
  }

  test("lake catchments are masked out of tiles (LakeID filter, P2)") {
    val tiles = Inundate.tiles(spark, points)
    assert(tiles.filter(col("hydroid") % 97 === 0).count() == 0)
    // but some points do land in lake catchments
    val asg = SpatialJoin.assign(spark, points)
    assert(asg.filter(col("hydroid") % 97 === 0).count() > 0)
  }

  test("G6 full donor ladder: upstream winner has max order; all three rules exercised") {
    import spark.implicits._
    val reaches = StreamNet.reaches(spark)
    val donors = StreamNet.ratingGraftFull(spark, reaches)
      .select($"hydroid", $"donor_id", $"rule").distinct().cache()
    val rules = donors.groupBy($"rule").count().as[(String, Long)].collect().toMap
    // 'self' can't occur in the synthetic network (every outlet has upstream
    // reaches; every headwater has a downstream) — exercised separately below
    assert(rules.keySet === Set("upstream", "downstream"), rules.toString)
    // every upstream donor flows into its short reach and carries the max
    // order among that reach's upstream set
    val up = reaches.select($"to_node".as("hydroid"), $"hydroid".as("up_id"),
      $"order_".as("up_order"))
    val maxUp = up.groupBy($"hydroid").agg(max($"up_order").as("max_order"))
    val bad = donors.filter($"rule" === "upstream")
      .join(up.withColumnRenamed("up_id", "donor_id"), Seq("hydroid", "donor_id"))
      .join(maxUp, "hydroid")
      .filter($"up_order" =!= $"max_order")
    assert(bad.count() === 0)
    // downstream donors are the reach's own to_node; self donors are outlets
    // with no upstream
    val dn = donors.filter($"rule" === "downstream")
      .join(reaches.select($"hydroid", $"to_node"), "hydroid")
      .filter($"donor_id" =!= $"to_node")
    assert(dn.count() === 0)
    donors.unpersist()
    // 'self' fallback: an isolated short reach (no upstream, no downstream)
    // donates to itself. hydroid 13 → areasqkm = (13%13+5)*0.4 = 2.0 < 3,
    // length 1.0 + (13%8)*0.125... must be < 1.25 → use hydroid 8 (len 1.0,
    // area (8%13+5)*0.4 = 5.2 ≥ 3 — too big). Use hydroid 104: 104%13=0 →
    // area 2.0; 104%8=0 → len 1.0; isolated via to_node = -1, no upstream.
    val iso = Seq((104, "00000000", 1, 1.0, -1))
      .toDF("hydroid", "huc8", "order_", "length_km", "to_node")
    val selfDonor = StreamNet.ratingGraftFull(spark, iso)
      .select($"rule").distinct().as[String].collect()
    assert(selfDonor.toSeq === Seq("self"))
  }

  test("pairing-table agreement with the default pairing == hard-coded ladder") {
    val mosaic = graft.pipeline.Inundate.run(spark, sf0001)
    val ladder = Agreement.agreement(spark, mosaic)
    val paired = Agreement.agreementWithPairing(spark, mosaic,
      (col("depth_max") > 0.0).cast("int"),
      Agreement.pairingTable(spark, Agreement.DefaultPairing))
    assert(paired.join(ladder, Seq("cell"))
      .filter(paired("agreement") =!= ladder("agreement")).count() === 0)
    assert(paired.count() === ladder.count())
    // every cell got a class: the pairing table is total over (cand, bench)
    assert(paired.filter(col("agreement").isNull).count() === 0)
  }

  test("mask flag: every mosaic cell's mskd == driver-side any-match of its centroid over the masks") {
    val mosaic = Inundate.run(spark, sf0001)
    val flagged = Agreement.withMaskFlag(spark, mosaic)
    assert(flagged.columns.toSeq == mosaic.columns.toSeq :+ "mskd")
    assert(flagged.schema("mskd").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = flagged.select(col("cell"), col("mskd")).collect()
    assert(rows.length == mosaic.count())
    val wrong = rows.filter { r =>
      val (lat, lng) = graft.geo.Cells.centroid(r.getLong(0))
      val want = if (Synth.maskList.exists(m => graft.geo.Geom.contains(m.ring, lng, lat))) 1 else 0
      r.getInt(1) != want
    }
    assert(wrong.isEmpty, wrong.take(5).mkString(", "))
    assert(rows.exists(_.getInt(1) == 1) && rows.exists(_.getInt(1) == 0))
  }
}
