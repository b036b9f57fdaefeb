package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.synth.Synth

class TextOpsSpec extends SparkTestBase {

  lazy val corpus = Synth.corpus(spark, sf0001).cache()

  test("exact dedup finds exactly the planted clone groups") {
    val groups = TextOps.exactDupGroups(corpus).collect()
    assert(groups.nonEmpty)
    // every group pairs an original with its +2000000 clone
    groups.foreach { r =>
      assert(r.getLong(1) == 2) // n
      assert(r.getLong(3) == r.getLong(2) + 2000000L) // max_doc = keep_doc + 2M
      assert(r.getLong(2) % 40 == 0)
    }
    val nOriginals = corpus.filter(col("doc_id") < 1000000 && col("doc_id") % 40 === 0).count()
    assert(groups.length == nOriginals)
  }

  test("sharded bench corpus scales LINEARLY: ×4 shards → ~×4 LSH pairs, zero cross-shard pairs") {
    // the throughput corpus must not manufacture duplicate cliques: each
    // rotated shard replicates the base dup structure, shares no shingles
    // with other shards, and pair counts grow ~linearly (borderline
    // near-dups may hash in or out per shard — hence the band, not ==)
    val p1 = TextOps.lshPairs(graft.Bench.scaledCorpus(spark, sf0001, 1)).count()
    val pairs4 = TextOps.lshPairs(graft.Bench.scaledCorpus(spark, sf0001, 4)).cache()
    val p4 = pairs4.count()
    assert(p4 >= 3 * p1 && p4 <= 5 * p1, s"p1=$p1 p4=$p4 — not linear")
    val crossShard = pairs4
      .filter(floor(col("doc_a") / 100000000L) =!= floor(col("doc_b") / 100000000L))
      .count()
    assert(crossShard == 0, s"$crossShard cross-shard pairs — shards are not independent")
  }

  test("LSH pairs ⊇ exact clone pairs; jaccard of exact clones = 1.0") {
    val pairs = TextOps.ngramJaccard(corpus).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exactPairs = pairs.filter { case ((a, b), _) => b == a + 2000000L }
    assert(exactPairs.nonEmpty)
    exactPairs.values.foreach(j => assert(j == 1.0))
    // near clones (truncated): high but typically < 1
    val nearPairs = pairs.filter { case ((a, b), _) => b == a + 1000000L }
    assert(nearPairs.nonEmpty)
    nearPairs.values.foreach(j => assert(j > 0.5))
  }

  test("simhash identical for exact clones; hamming-near for near clones") {
    val sims = TextOps.simhash16(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val origs = sims.keys.filter(d => d < 1000000 && d % 40 == 0 && sims.contains(d + 2000000))
    assert(origs.nonEmpty)
    origs.foreach(d => assert(sims(d) == sims(d + 2000000)))
    sims.keys.filter(d => d < 1000000 && d % 50 == 0 && sims.contains(d + 1000000)).foreach { d =>
      val ham = java.lang.Long.bitCount(sims(d) ^ sims(d + 1000000))
      assert(ham <= 6, s"doc $d hamming $ham")
    }
  }

  test("langid predicts a language from the marker set; counts non-negative") {
    val rows = TextOps.langId(corpus).collect()
    assert(rows.length == corpus.count())
    val langs = TextOps.LangMarkers.map(_._1).toSet
    rows.foreach { r =>
      assert(langs.contains(r.getString(2)))
      (3 until 8).foreach(i => assert(r.getInt(i) >= 0))
    }
  }

  test("quality features consistent with raw text") {
    val q = TextOps.quality(corpus).join(corpus, "doc_id").collect()
    q.foreach { r =>
      val text = r.getAs[String]("text")
      assert(r.getAs[Int]("n_chars_m") == text.length)
      assert(r.getAs[Int]("n_tokens") == text.count(_ == ' ') + 1)
      assert(r.getAs[Int]("keep") == 0 || r.getAs[Int]("keep") == 1)
    }
  }

  test("fingerprint is the 4 smallest distinct hashes and stable across partitionings") {
    import org.apache.spark.sql.functions._
    val a = TextOps.fingerprint(corpus)
    val b = TextOps.fingerprint(corpus.repartition(13))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    a.collect().foreach { r =>
      if (r.getLong(2) == 4) assert(r.getString(1).matches("\\d+(-\\d+){3}"))
      else assert(r.isNullAt(1))
    }
    // MinK4 ≡ the unbounded reference shape (sort the whole distinct set,
    // take 4) — the bounded-buffer insert/merge must lose nothing
    val ref = TextOps.shingleHashes(corpus)
      .groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_set(col("hb"))), 1, 4).as("tops"))
      .select(col("doc_id"),
        when(size(col("tops")) >= 4,
          array_join(col("tops").cast("array<string>"), "-")).as("fp"),
        size(col("tops")).cast("bigint").as("k"))
    assert(a.except(ref).isEmpty && ref.except(a).isEmpty)
  }

  test("incremental dedup: every exact clone is flagged dup against its own original") {
    import org.apache.spark.sql.functions._
    val out = TextOps.incrementalDedup(corpus).cache()
    // the batch side only (ids >= 1e6); base docs never appear as doc_id
    assert(out.filter(col("doc_id") < 1000000L).count() == 0)
    // exact clones (+2e6) share every shingle with their original: jaccard 1,
    // best match = the original, flagged dup
    val clones = out.filter(col("doc_id") >= 2000000L)
    assert(clones.count() > 0)
    val wrong = clones.filter(col("is_dup") =!= 1 ||
      col("jaccard") =!= 1.0 || col("match_doc") =!= col("doc_id") - 2000000L)
    assert(wrong.count() == 0, wrong.collect().take(3).mkString(", "))
    out.unpersist()
  }

  test("incremental dedup against PERSISTED base artifacts == in-memory form (no base recompute)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_artifacts").toString
    val base = corpus.filter(col("doc_id") < 1000000L)
    val batch = corpus.filter(col("doc_id") >= 1000000L)
    // snapshot the base's dedup artifacts once
    val (arr, bands) = TextOps.dedupArtifacts(base)
    arr.write.parquet(s"$dir/base_arr"); bands.write.parquet(s"$dir/base_bands")
    // an arriving batch only shingles/bands itself
    val (barr, bbands) = TextOps.dedupArtifacts(batch)
    val viaArtifacts = TextOps.incrementalDedupAgainst(
      spark.read.parquet(s"$dir/base_arr"), spark.read.parquet(s"$dir/base_bands"),
      barr, bbands, TextOps.NearDupJaccard)
    val direct = TextOps.incrementalDedup(corpus)
    assert(viaArtifacts.except(direct).isEmpty && direct.except(viaArtifacts).isEmpty)
  }

  test("fuzzyDecontaminate: truncated copies of eval docs are flagged; the eval side never appears") {
    // eval set = doc_id < 1,000,000 with doc_id % 37 == 0 (the q119/q133
    // convention). Truncated near-clones of eval docs (id = base + 1,000,000,
    // planted for bases % 50 == 0) must surface as leaks at jaccard >= 0.5.
    val ev = col("doc_id") < 1000000L && col("doc_id") % 37 === 0
    val out = TextOps.fuzzyDecontaminate(corpus, ev).cache()
    // output is corpus-side only
    assert(out.filter(col("doc_id") < 1000000L && col("doc_id") % 37 === 0).count() == 0)
    // every eval doc with a planted truncated clone (base % lcm(37,50) — use
    // % 37 == 0 and % 50 == 0) must be caught with that clone leaked
    val leakBases = corpus.filter(ev && col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"))
    val caught = out.join(leakBases, "doc_id")
    assert(leakBases.count() > 0, "sf0.001 corpus plants eval near-clones")
    assert(caught.count() == leakBases.count(), "every planted eval near-clone surfaces")
    assert(caught.filter(col("leaked") =!= 1).count() == 0)
    assert(caught.filter(col("eval_doc") =!= col("doc_id") - 1000000L).count() == 0,
      "the best match is the clone's own eval source")
    // jaccard is a valid score everywhere
    assert(out.filter(col("jaccard") < 0.0 || col("jaccard") > 1.0).count() == 0)
    out.unpersist()
  }

  test("dupSpanRemoval: a shared substring yields one merged interval at the exact offsets") {
    import spark.implicits._
    val shared = "DUPLICATEDSEGMENTXYZ" // 20 chars -> grams at p..p+12, span [p, p+19]
    // boundary chars DIFFER between docs (.", vs :;) so no gram straddling
    // the segment edge is itself a cross-doc duplicate
    val d = Seq(
      (1L, "abcdefghij." + shared + ",unique tail one here"),  // shared starts at 12
      (2L, "kl:" + shared + ";other continuation words"))      // shared starts at 4
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val got = TextOps.dupSpanRemoval(d)
      .select("doc_id", "span_start", "span_end", "span_len", "n_grams")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 2, s"one interval per doc: ${got.mkString(";")}")
    assert(got(0) == ((1L, 12L, 31L, 20L, 13L)))
    assert(got(1) == ((2L, 4L, 23L, 20L, 13L)))
  }

  test("dupSpanRemoval: separated shared segments stay separate islands; within-doc repeats don't count") {
    import spark.implicits._
    val s1 = "FIRSTSHAREDBLOCK"; val s2 = "SECONDSHAREDBLOCK"
    val d = Seq(
      (1L, s1 + " 123456789 " + s2),        // two shared blocks, >=8 unique chars apart
      (2L, s2 + " abcdefghi " + s1),
      (3L, "selfrepeat words selfrepeat words only in this doc nowhere else"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val got = TextOps.dupSpanRemoval(d).cache()
    assert(got.filter(col("doc_id") === 3L).count() == 0,
      "within-one-doc repeats are df=1 -> never removed")
    assert(got.filter(col("doc_id") === 1L).count() == 2, "two distinct islands")
    assert(got.filter(col("doc_id") === 2L).count() == 2)
    got.unpersist()
  }

  test("kmvDistinct: exact when under k; within KMV error bounds over k") {
    import spark.implicits._
    // lang "xx": one short doc -> n_distinct < 64 -> estimate IS the exact count
    // lang "en": a long doc -> hundreds of distinct grams -> the (k-1)*S/h_k path
    val longText = (1 to 120).map(i => s"w$i").mkString(" ") // > 505 chars
    val d = Seq((1L, "tiny document", "xx"), (2L, longText, "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.kmvDistinct(d)
      .select("lang", "n_exact", "n_kept", "kmv_estimate")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val xx = got("xx")
    assert(xx._2 < 64 && xx._3 == xx._2 && xx._4 == xx._2.toDouble,
      s"under-k languages report exactly: $xx")
    val en = got("en")
    assert(en._2 > 64 && en._3 == 64L, s"over-k keeps exactly k distinct minima: $en")
    assert(en._4 > 0.4 * en._2 && en._4 < 2.5 * en._2,
      s"KMV estimate within coarse bounds of exact: $en")
  }

  test("dupSpanProfile: exact clones are 100% duplicated spans; counts bounded") {
    import org.apache.spark.sql.functions._
    val out = TextOps.dupSpanProfile(corpus).cache()
    // every exact clone shares all its shingles with its source
    val clones = out.filter(col("doc_id") >= 2000000L)
    assert(clones.count() > 0)
    assert(clones.filter(col("dup_frac") =!= 1.0 || col("heavy_dup") =!= 1).count() == 0)
    // n_dup never exceeds n_shingles; fractions in [0,1]
    assert(out.filter(col("n_dup") > col("n_shingles") ||
      col("dup_frac") < 0.0 || col("dup_frac") > 1.0).count() == 0)
    // truncated near-clones (id >= 1,000,000, < 2,000,000) are heavy dups too:
    // all their shingles come from the source's first 502 chars
    val nears = out.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L)
    assert(nears.count() > 0)
    assert(nears.filter(col("heavy_dup") =!= 1).count() == 0)
    out.unpersist()
  }

  test("containment: exact clones are near-equal; truncated clones are contained in their original") {
    import spark.implicits._
    val out = TextOps.containment(corpus).cache()
    // exact clone pairs (orig, orig+2M): identical shingle sets both ways
    val exact = out.filter(col("doc_b") - col("doc_a") === 2000000L &&
      col("doc_a") % 40 === 0)
    assert(exact.count() > 0)
    assert(exact.filter(col("cont_a_ppm") =!= 1000000L ||
      col("cont_b_ppm") =!= 1000000L || col("relation") =!= "near-equal").count() === 0)
    // truncated near-clone (orig+1M, last 10 chars cut): ITS shingles are a
    // subset of the original's first-512-char shingles wherever the trunc
    // point lands ≤ 512 — so containment on the SHORT side is exactly 10^6
    val trunc = out.filter(col("doc_b") - col("doc_a") === 1000000L &&
      col("doc_a") % 50 === 0).cache()
    assert(trunc.count() > 0)
    val full = trunc.filter(col("cont_b_ppm") === 1000000L &&
      (col("relation") === "b-in-a" || col("relation") === "near-equal")).count()
    assert(full > 0, "at least one truncated clone is fully contained")
    // the arithmetic is internally consistent on every row
    val bad = out.filter(
      col("cont_a_ppm") =!= expr("n_shared * 1000000 div sz_a") ||
      col("cont_b_ppm") =!= expr("n_shared * 1000000 div sz_b") ||
      col("n_shared") > least(col("sz_a"), col("sz_b")))
    assert(bad.count() === 0)
    trunc.unpersist(); out.unpersist()
  }

  test("sourceOverlap: planted cross-source clone creates the expected cell; matrix is upper-triangular") {
    import spark.implicits._
    // 3 sources; srcA and srcB share one long doc verbatim, srcC is disjoint
    val longA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val longC = (1 to 40).map(i => s"gamma$i").mkString(" ")
    val d = Seq(
      ("srcA", longA), ("srcA", "unique to a " + longC.substring(0, 0)),
      ("srcB", longA), ("srcB", "unique to b entirely different words"),
      ("srcC", longC)
    ).toDF("source", "text")
    val got = TextOps.sourceOverlap(d)
      .select($"source_a", $"source_b", $"n_shared", $"sz_a", $"sz_b", $"jaccard_ppm")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(got.forall(r => r._1 < r._2), "matrix must be upper-triangular")
    val ab = got.find(r => r._1 == "srcA" && r._2 == "srcB")
    assert(ab.isDefined, "the planted shared doc must create the A-B cell")
    // shared shingles = the shared doc's distinct shingles minus any that
    // collide with the unique docs; at minimum the overlap is large
    assert(ab.get._3 > 100)
    assert(ab.get._6 === ab.get._3 * 1000000L / (ab.get._4 + ab.get._5 - ab.get._3))
    // the disjoint source never pairs with A beyond hash-collision noise
    assert(got.filter(r => r._2 == "srcC" || r._1 == "srcC")
      .forall(_._3 < 5), "srcC shares no 8-grams by construction")
  }
}
