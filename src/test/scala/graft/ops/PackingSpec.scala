package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, SharedSpark}

/** Behavioral specs for the training-batch assembly ops (Packing): hand-
  * checkable packing intervals and mix quotas. Bit-parity with DuckDB is the
  * q124/q125 oracle rows; partitioning-invariance is InvarianceSpec. */
class PackingSpec extends SparkTestBase {
  import SharedSpark.spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))

  test("seqPack: contiguous token intervals per shard; chunk spans are exact") {
    // one shard (ids ≡ 0 mod 64), budget 4: docs of 3/3/6 tokens →
    // [0,3) in seq 0, [3,6) spans seqs 0-1, [6,12) spans seqs 1-2
    val d = docs(0L -> "a b c", 64L -> "d e f", 128L -> "g h i j k l")
    val got = Packing.seqPack(d, budgetTokens = 4)
      .select("doc_id", "tok_start", "tok_end", "seq_first", "seq_last", "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, 0L, 3L, 0L, 0L, 1L),
      (64L, 3L, 6L, 0L, 1L, 2L),
      (128L, 6L, 12L, 1L, 2L, 2L)))
  }

  test("seqPack: shards pack independently (offsets restart per shard)") {
    val d = docs(1L -> "a b c d", 2L -> "e f g h")
    val starts = Packing.seqPack(d, budgetTokens = 8)
      .select("tok_start").as[Long].collect()
    assert(starts.toSeq == Seq(0L, 0L), s"each shard starts at 0: ${starts.mkString(",")}")
  }

  test("mixWeights: exact integer sqrt, quotas floor, weights sum ≤ 1") {
    val d = (1L to 9L).map(i => (i, "x y z", "en")) ++
      (10L to 13L).map(i => (i, "w", "de")) :+ ((14L, "v", "fr"))
    val got = Packing.mixWeights(d.toDF("doc_id", "text", "lang"), budgetDocs = 100L)
      .select("lang", "n_docs", "w_sqrt", "quota_docs")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // sqrt(9)=3, sqrt(4)=2, sqrt(1)=1 → total 6 → quotas 50/33/16
    assert(got("en") == ("en", 9L, 3L, 50L))
    assert(got("de") == ("de", 4L, 2L, 33L))
    assert(got("fr") == ("fr", 1L, 1L, 16L))
  }

  test("epochOrder: bucketed prefix-sum positions ≡ the global sort order") {
    val d = docs((0L until 500L).map(i => (i, s"doc $i")): _*)
    val got = Packing.epochOrder(d, epoch = 0)
      .select("doc_id", "okey", "global_pos")
      .as[(Long, Long, Long)].collect()
    // positions are a dense permutation of 0..n-1
    assert(got.map(_._3).sorted.toSeq == (0L until 500L).toSeq)
    // and agree with the straight global sort by (okey, doc_id)
    val expect = got.sortBy(r => (r._2, r._1)).map(_._1).toSeq
    val byPos = got.sortBy(_._3).map(_._1).toSeq
    assert(byPos == expect)
  }

  test("epochOrder: different epochs permute differently, same epoch is stable") {
    val d = docs((0L until 100L).map(i => (i, s"doc $i")): _*)
    def posMap(e: Int) = Packing.epochOrder(d, e)
      .select("doc_id", "global_pos").as[(Long, Long)].collect().toMap
    val e0 = posMap(0)
    assert(posMap(0) == e0, "same epoch must reproduce identical positions")
    assert(posMap(1) != e0, "epoch must reshuffle")
  }

  test("mixWeights: correction ladder pins isqrt at perfect-square boundaries") {
    // n = k² and k²-1 around a large square exercise both CASE arms; the
    // ladder is replicated here column-for-column from mixWeights
    val k = 1000003L
    val rows = Seq(("sq", k * k), ("sqm1", k * k - 1)).toDF("lang", "n_docs")
    val s1 = floor(sqrt(col("n_docs").cast("double"))).cast("bigint")
    val w = when(s1 * s1 > col("n_docs"), s1 - 1L)
      .when((s1 + 1L) * (s1 + 1L) <= col("n_docs"), s1 + 1L)
      .otherwise(s1)
    val got = rows.select(col("lang"), w.as("w")).as[(String, Long)].collect().toMap
    assert(got("sq") == k, s"isqrt(k²) must be k: ${got("sq")}")
    assert(got("sqm1") == k - 1, s"isqrt(k²-1) must be k-1: ${got("sqm1")}")
  }
}
