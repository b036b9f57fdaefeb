package graft.ops

import graft.SparkTestBase
import graft.functions.{IntersectCount, Md5Prefix60, MinK4, Minhash16, Shingles60, SrpBucket}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** The [[graft.functions.GraftMd5]] kernel must be bit-identical to the SQL
  * chain it replaced (and that every DuckDB oracle still mirrors textually):
  * transform(sequence(...), i -> CAST(conv(substring(md5(substring(text,i,8)),
  * 1,15),16,10) AS BIGINT)), optionally array_distinct'ed. */
class ShingleHashSpec extends SparkTestBase {

  private val L = TextOps.ShingleLen
  private val M = TextOps.MaxShingleChars

  private def refChain(distinct: Boolean): String = {
    val t = s"transform(sequence(1, least(length(text), $M) - ${L - 1}), " +
      s"i -> CAST(conv(substring(md5(substring(text, i, $L)), 1, 15), 16, 10) AS BIGINT))"
    if (distinct) s"array_distinct($t)" else t
  }

  private def assertSame(df: org.apache.spark.sql.DataFrame): Unit =
    Seq(false, true).foreach { d =>
      val bad = df.filter(length(col("text")) >= L)
        .select(expr(refChain(d)).as("ref"),
          (if (d) Shingles60.shingles60Distinct(col("text"))
           else Shingles60.shingles60(col("text"))).as("got"))
        .filter(not(col("ref") <=> col("got")))
        .count()
      assert(bad === 0L, s"distinct=$d: kernel diverges from the SQL chain")
    }

  test("kernel ≡ SQL chain on the sf0.001 corpus (exact order and values)") {
    assertSame(graft.synth.Synth.corpus(spark, sf0001))
  }

  test("scalar md5_prefix60 ≡ SQL chain on corpus texts, words and paragraphs") {
    val c = graft.synth.Synth.corpus(spark, sf0001)
    val probes = Seq[org.apache.spark.sql.Column](
      col("text"), // multi-block (≥ 500 chars)
      substring(col("text"), 1, 40), // single block
      substring(col("text"), 1, 56), // padding straddles a block boundary
      substring(col("text"), 1, 63),
      substring(col("text"), 1, 64),
      concat(col("text"), col("text")), // > 1000 bytes
      lit(""))
    probes.zipWithIndex.foreach { case (p, i) =>
      val bad = c.select(p.as("probe"))
        .select(expr("CAST(conv(substring(md5(probe), 1, 15), 16, 10) AS BIGINT)").as("ref"),
          graft.functions.Md5Prefix60.md5Prefix60(col("probe")).as("got"))
        .filter(not(col("ref") <=> col("got"))).count()
      assert(bad === 0L, s"probe #$i diverges")
    }
  }

  test("kernel ≡ SQL chain on adversarial texts (UTF-8, boundaries, repeats)") {
    import spark.implicits._
    val texts = Seq(
      "abcdefgh", // exactly one shingle
      "abcdefg", // below shingle length (filtered out)
      "aaaaaaaaaaaaaaaaaaaaaaaa", // all-duplicate shingles
      "ababababababababab",
      ("x" * 511) + "yz", // crosses the MaxShingleChars truncation
      ("w" * 600), // well past truncation
      "héllo wörld, ünïcode shingles ärè fün — ok€", // 2-byte + 3-byte chars
      "日本語のテキストで八文字以上になる例です", // 3-byte chars only
      "mixed ascii y 中文 and €uro signs in one documento de prueba",
      " control bytes",
      ("é" * 300) + ("a" * 300), // non-ASCII past the truncation boundary
      "𝒮𝓊𝓇𝓇𝑜𝑔𝒶𝓉𝑒 𝓅𝒶𝒾𝓇𝓈 beyond the BMP 🚀🚀🚀 and ascii tail")
    assertSame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"))
  }

  test("each custom kernel fails analysis on a wrong input type (ExpectsInputTypes)") {
    val df = spark.range(1).select(col("id").as("n"), col("id").cast("string").as("s"),
      array(col("id")).as("longs"), array(col("id").cast("int")).as("ints"))
    // (kernel, a well-typed call, the same kernel over a wrong type)
    val calls: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
      ("shingles60", _.select(Shingles60.shingles60(col("s"))),
        _.select(Shingles60.shingles60(col("n")))),
      ("shingles60_distinct", _.select(Shingles60.shingles60Distinct(col("s"))),
        _.select(Shingles60.shingles60Distinct(col("longs")))),
      ("minhash16", _.select(Minhash16.minhash16(col("s"))),
        _.select(Minhash16.minhash16(col("n")))),
      ("md5_prefix60", _.select(Md5Prefix60.md5Prefix60(col("s"))),
        _.select(Md5Prefix60.md5Prefix60(col("n")))),
      ("intersect_count", _.select(IntersectCount.intersectCount(col("longs"), col("longs"))),
        _.select(IntersectCount.intersectCount(col("longs"), col("ints")))),
      ("srp_bucket", _.select(SrpBucket.srpBucket(col("longs"), 4, 0)),
        _.select(SrpBucket.srpBucket(col("ints"), 4, 0))),
      ("min_k4", _.agg(MinK4.minK4(col("n"))),
        _.agg(MinK4.minK4(col("s")))))
    calls.foreach { case (name, ok, wrong) =>
      ok(df).queryExecution.assertAnalyzed()
      val e = intercept[AnalysisException](wrong(df).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$name: ${e.getMessage}")
    }
  }
}
