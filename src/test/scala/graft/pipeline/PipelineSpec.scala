package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.synth.Synth
import graft.SparkEntry
import graft.queries.Query

class PipelineSpec extends SparkTestBase {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("per-url byte-identical text invariant: pages.text passes through untouched") {
    val src = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("long").as("pid"), col("text").as("src_text"))
    val pages = Synth.pages(spark, sf0001)
    // through the full geocode+assign pipeline, text bytes must be unchanged
    val through = graft.ops.SpatialJoin.assign(spark, pages)
      .select(col("pid"), col("text"), col("html"))
    val cmp = through.join(src, "pid")
      .filter(col("text") =!= col("src_text") ||
        decode(col("html"), "UTF-8") =!= col("src_text"))
    assert(cmp.count() == 0)
    assert(through.count() == src.count())
  }

  test("every SparkEntry query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("oracleSql covers every query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("the registry refuses a query name declared twice, and names it") {
    val q = Query("q00_twice", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val e = intercept[IllegalArgumentException](Query.byName(Seq(q, q.copy(oracle = "SELECT 1 AS id"))))
    assert(e.getMessage.contains("q00_twice"), e.getMessage)
  }

  test("the registry declares 156 queries") {
    assert(SparkEntry.queries.size == 156)
  }
}
