package graft.geo

import java.lang.Double.doubleToLongBits
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class CellsSpec extends SparkTestBase {

  // deterministic sample of lat/lng incl. exact grid boundaries
  val rng = new scala.util.Random(42)
  val samples: Seq[(Double, Double)] =
    (1 to 2000).map(_ => (rng.nextDouble() * 179.998 - 89.999, rng.nextDouble() * 359.998 - 179.999)) ++
      Seq((-78.75, -180.0), (0.0, 0.0), (40.0, -74.0), (-45.0, 135.0), (89.999, 179.999),
        (-89.999, -179.999), (11.25 - 90.0, 5.625 - 180.0))

  test("codec roundtrip: res/row/col recoverable") {
    for ((lat, lng) <- samples; r <- Seq(0, 5, 12, 20)) {
      val c = Cells.latLngToCell(lat, lng, r)
      assert(Cells.res(c) == r)
      assert(Cells.rowOf(c) == Cells.latToRow(lat, r))
      assert(Cells.colOf(c) == Cells.lngToCol(lng, r))
      assert(Cells.rowOf(c) >= 0 && Cells.rowOf(c) < Cells.rows(r))
      assert(Cells.colOf(c) >= 0 && Cells.colOf(c) < Cells.cols(r))
    }
  }

  test("parent of point's cell == point's cell at parent res") {
    for ((lat, lng) <- samples)
      assert(Cells.cellToParent(Cells.latLngToCell(lat, lng, 12), 5) ==
        Cells.latLngToCell(lat, lng, 5))
  }

  test("kRing contains center, bounded by chebyshev k") {
    for ((lat, lng) <- samples; k <- 0 to 3) {
      val c = Cells.latLngToCell(lat, lng, 6)
      val ring = Cells.kRing(c, k)
      assert(ring.contains(c))
      assert(ring.length <= (2 * k + 1) * (2 * k + 1))
      ring.foreach { rc =>
        assert(math.abs(Cells.rowOf(rc) - Cells.rowOf(c)) <= k)
        assert(math.abs(Cells.colOf(rc) - Cells.colOf(c)) <= k)
      }
    }
  }

  test("cover of a degenerate bbox is the single containing cell") {
    for ((lat, lng) <- samples)
      assert(Cells.cover(lat, lat, lng, lng, 7)
        .sameElements(Array(Cells.latLngToCell(lat, lng, 7))))
  }

  test("centroid lands back in the same cell") {
    for ((lat, lng) <- samples) {
      val c = Cells.latLngToCell(lat, lng, 9)
      val (clat, clng) = Cells.centroid(c)
      assert(Cells.latLngToCell(clat, clng, 9) == c)
    }
  }

  test("Column codec equals the Long codec bit for bit at res 0, 5 and 12") {
    import spark.implicits._
    // an RDD source, so the projection runs as generated code, not as the
    // driver-side fold of a local relation
    val pts = spark.sparkContext.parallelize(samples, 4).toDF("lat", "lng")
    for (res <- Seq(0, 5, 12)) {
      val cell = Cells.latLngToCellCol(col("lat"), col("lng"), res)
      val parents = Seq(0, 5, 12).filter(_ <= res)
      val rows = pts.select(Seq(col("lat"), col("lng"), cell,
        Cells.rowOfCol(cell), Cells.colOfCol(cell),
        Cells.centroidLatCol(cell, res), Cells.centroidLngCol(cell, res),
        array(Cells.neighbourCols(cell, res): _*)) ++
        parents.map(p => Cells.cellToParentCol(cell, res, p)): _*).collect()
      assert(rows.length == samples.length)
      rows.foreach { r =>
        val c = Cells.latLngToCell(r.getDouble(0), r.getDouble(1), res)
        val (row, cl) = (Cells.rowOf(c), Cells.colOf(c))
        val (clat, clng) = Cells.centroid(c)
        assert(r.getLong(2) == c, s"cell at res $res")
        assert(r.getLong(3) == row && r.getLong(4) == cl, s"row/col at res $res")
        assert(doubleToLongBits(r.getDouble(5)) == doubleToLongBits(clat), s"centroid lat at res $res")
        assert(doubleToLongBits(r.getDouble(6)) == doubleToLongBits(clng), s"centroid lng at res $res")
        val onGrid = Seq((row + 1, cl), (row - 1, cl), (row, cl + 1), (row, cl - 1)).map { case (nr, nc) =>
          if (nr >= 0 && nr < Cells.rows(res) && nc >= 0 && nc < Cells.cols(res)) Some(Cells.encode(res, nr, nc))
          else None
        }
        r.getSeq[Long](7).zip(onGrid).foreach { case (got, want) => want.foreach(w => assert(got == w)) }
        parents.zipWithIndex.foreach { case (p, i) =>
          assert(r.getLong(8 + i) == Cells.cellToParent(c, p), s"parent $p of res $res")
        }
      }
    }
  }
}
