package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, SharedSpark}
import graft.synth.Synth

/** Behavioral specs for the lexical/retrieval ops (Lexicon) and the
  * dup-graph connected components (DedupGraph) — tiny hand-checkable inputs
  * first, then corpus-level sanity on sf0.001. Bit-parity with DuckDB is the
  * q118–q123 oracle rows; partitioning-invariance is InvarianceSpec. */
class LexiconSpec extends SparkTestBase {
  import SharedSpark.spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))

  // ---- DedupGraph.components ----

  test("components: a chain a-b, b-c, plus an isolated pair, resolve to min ids") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = DedupGraph.components(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: a long chain (adversarial diameter) converges to one root") {
    val n = 64
    val chain = (0 until n).map(i => (i.toLong, (i + 1).toLong))
    val got = DedupGraph.components(chain.toDF("doc_a", "doc_b")).as[(Long, Long)].collect().toMap
    assert(got.size == n + 1 && got.values.forall(_ == 0L))
    // the same chain over zero-padded STRING ids (string order = id order),
    // the id type of the link-farm host graph
    def pad(i: Long) = f"$i%04d"
    val str = chain.map { case (a, b) => (pad(a), pad(b)) }.toDF("doc_a", "doc_b")
    assert(DedupGraph.components(str).as[(String, String)].collect().toMap ==
      got.map { case (d, c) => pad(d) -> pad(c) })
    // an empty edge table has no endpoints, so no labels, for either id type
    assert(DedupGraph.components(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
    assert(DedupGraph.components(Seq.empty[(String, String)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("components: a round's pointer jump reuses the propagate aggregate's exchange (300-edge chain)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    val n = 300
    val chain = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val got = DedupGraph.components(chain).as[(Long, Long)].collect()
    assert(got.length == n + 1 && got.forall(_._2 == 0L))
    // one round over checkpointed edges and labels, as the loop runs it
    val und = chain.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(chain.select(col("doc_b").as("src"), col("doc_a").as("dst"))).localCheckpoint()
    val labels = und.select(col("src").as("doc_id"), col("src").as("comp")).distinct().localCheckpoint()
    val round = DedupGraph.round(und, labels)
    round.collect() // AQE finalizes the plan it executed
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val plan = round.queryExecution.executedPlan
    // both sides of the self-join read the same propagate aggregate: its
    // shuffle runs once, the other side reads it back (the labels'
    // broadcast is reused either way, so it does not count)
    assert(nodes(plan).exists {
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case _ => false
    }, plan.toString.take(4000))
  }

  test("dupComponents: exact clones and near-clones land in one cluster, keep = canonical only") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val d = docs(
      1L -> base, 2L -> base,                      // exact pair
      3L -> base.substring(0, base.length - 12),   // near-dup of 1/2
      50L -> ("totally different words here about streams and rivers " * 4))
    val got = DedupGraph.dupComponents(d)
      .select("doc_id", "component", "cluster_size", "keep")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    // doc 50 shares no edge -> absent; 1,2,3 form one component rooted at 1
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(r => r._2 == 1L && r._3 == 3L))
    assert(got.map(r => r._1 -> r._4).toMap == Map(1L -> 1, 2L -> 0, 3L -> 0))
  }

  test("canonicalPick: the highest-quality member wins its component, not the min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val d = docs(
      1L -> base, 2L -> base,                      // exact pair
      3L -> base.substring(0, base.length - 12))   // near-dup (truncated)
    val got = DedupGraph.canonicalPick(d)
      .select("doc_id", "component", "score", "keep")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.count(_._4 == 1) == 1, "exactly one winner per component")
    // the winner has the max score; among equal scores the min id wins —
    // docs 1 and 2 are byte-identical (equal scores), so 3 can only win by
    // strictly higher score
    val byId = got.map(r => r._1 -> r).toMap
    val winner = got.filter(_._4 == 1).head
    assert(got.forall(r => winner._3 >= r._3))
    assert(byId(1L)._3 == byId(2L)._3)
    if (winner._1 == 2L) fail("equal-score tie must break to the smaller id")
  }

  // ---- TextOps.decontaminate ----

  test("decontaminate: eval doc overlaps itself fully; disjoint doc is absent") {
    val evalText = "one two three four five six seven eight nine ten eleven twelve"
    val d = docs(1L -> evalText, 2L -> ("zz " * 40).trim)
    val byId = TextOps.decontaminate(d, d.filter($"doc_id" === 1L))
      .select("doc_id", "overlap_frac", "contaminated")
      .as[(Long, Double, Int)].collect()
    assert(byId.map(_._1).toSet == Set(1L), s"only the eval doc overlaps: ${byId.mkString(",")}")
    val r = byId.head
    assert(r._2 == 1.0 && r._3 == 1)
  }

  test("decontaminate: partial overlap is counted over distinct shingles") {
    val evalText = "one two three four five six seven eight nine ten"
    // doc 2 shares the eval prefix then diverges -> 0 < frac < 1
    val d = docs(1L -> evalText, 2L -> (evalText + " unrelated tail words continue here onward"))
    val r = TextOps.decontaminate(d, d.filter($"doc_id" === 1L))
      .filter($"doc_id" === 2L)
      .select("overlap_frac").as[Double].collect().head
    assert(r > 0.0 && r < 1.0)
  }

  // ---- TextOps.shingleTopK ----

  test("shingleTopK: the shared boilerplate shingle ranks first") {
    val boiler = "cookie banner accept all tracking "
    val d = docs((1L to 6L).map(i => i -> (boiler + s"unique body $i with words " * 2)): _*)
    val top = TextOps.shingleTopK(d, 5).select("df_docs").as[Long].collect()
    assert(top.head == 6L, s"boilerplate shingle should appear in all 6 docs: ${top.mkString(",")}")
    assert(top.toSeq == top.toSeq.sortBy(-_), "descending by document frequency")
  }

  // ---- Lexicon ----

  test("tfidfTopK: repeated rare word outranks common words; k rows per doc max") {
    val d = docs(
      1L -> "apple apple apple shared shared words words words here",
      2L -> "shared words here plain text nothing special at all",
      3L -> "shared words here plain text nothing special at all again")
    val got = Lexicon.tfidfTopK(d, 2)
    val doc1 = got.filter($"doc_id" === 1L).orderBy($"rnk")
      .select("w").as[String].collect()
    assert(doc1.head == "apple", s"tf=3,df=1 must win: ${doc1.mkString(",")}")
    val counts = got.groupBy("doc_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ <= 2))
  }

  test("postingsProbe: returns postings only for the probe doc's terms") {
    val d = docs(
      7L -> "needle haystack",
      8L -> "needle elsewhere too",
      9L -> "completely disjoint content")
    val got = Lexicon.postingsProbe(d).select("w", "doc_id").as[(String, Long)].collect().toSet
    assert(got == Set(("needle", 7L), ("haystack", 7L), ("needle", 8L)))
  }

  test("vocabulary: df counts docs, tf_total counts occurrences") {
    val d = docs(1L -> "a a b", 2L -> "a c")
    val got = Lexicon.vocabulary(d)
      .select("w", "df_docs", "tf_total").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("a") == (2L, 3L) && got("b") == (1L, 1L) && got("c") == (1L, 1L))
  }

  // ---- Lexicon.bpePairs / rarityBuckets ----

  test("bpePairs: the repeated bigram wins; ties break lexicographically") {
    val d = docs(
      1L -> "to be or not to be",   // "to be" twice
      2L -> "to be is to be",       // "to be" twice more
      3L -> "aa bb aa bb")          // "aa bb" twice, "bb aa" once
    val top = Lexicon.bpePairs(d, k = 3)
      .select("w1", "w2", "n_pairs").as[(String, String, Long)].collect()
    assert(top.head == (("to", "be", 4L)))
    // count-2 tier: ("aa","bb") sorts before ("be","or"/"is") lexicographically
    assert(top(1) == (("aa", "bb", 2L)))
  }

  test("bpePairs: single-word docs contribute nothing") {
    val d = docs(1L -> "alone", 2L -> "x y")
    val got = Lexicon.bpePairs(d).as[(String, String, Long)].collect()
    assert(got.toSeq == Seq(("x", "y", 1L)))
  }

  test("rarityBuckets: common-word docs score below unique-word docs; sums exact") {
    val d = docs(
      1L -> "the the the the",       // tf(the)=8 of 12 → rarity 1
      2L -> "the the the the",
      3L -> "qx zq wv jk")           // tf each = 1 → rarity 12
    val got = Lexicon.rarityBuckets(d)
      .select("doc_id", "n_tokens", "rarity_sum", "bucket")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // total tokens = 12; rarity(the) = 12 div 8 = 1; rarity(unique) = 12,
    // so doc 3's mean = 48/4 = 12 → "typical" (≥10, <100)
    assert(got(1L) == ((1L, 4L, 4L, "common")))
    assert(got(3L) == ((3L, 4L, 48L, "typical")))
  }

  // ---- Lexicon.lengthQuantiles ----

  test("lengthQuantiles: nearest-rank cuts match the brute-force definition") {
    // en: lengths 1..10 → N=10; p50 = value at rank ceil(5)=5, p90 at rank 9,
    // p99 at rank ceil(9.9)=10
    val en = (1 to 10).map(n => (n.toLong, ("w " * n).trim))
    // fr: lengths {2,2,7} → N=3; p50 at rank 2 → 2, p90/p99 at rank 3 → 7
    val fr = Seq((100L, "a b"), (101L, "c d"), (102L, "e f g h i j k"))
    val d = en.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .unionByName(fr.toDF("doc_id", "text").withColumn("lang", lit("fr")))
    // n_docs is DOUBLE by design: the frozen oracle's uncast sum() widens to
    // HUGEINT → float64, and the driver's hash is representation-sensitive
    // (see Lexicon.lengthQuantiles) — the engine mirrors that output type
    val got = Lexicon.lengthQuantiles(d)
      .select("lang", "n_docs", "p50", "p90", "p99", "n_max")
      .as[(String, Double, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("en") == (("en", 10.0, 5L, 9L, 10L, 10L)))
    assert(got("fr") == (("fr", 3.0, 2L, 7L, 7L, 7L)))
  }

  test("lengthQuantiles: counts cap at MaxWords (the histogram domain bound)") {
    val d = docs(1L -> ("w " * 500).trim) // 500 words, capped to 128
    val got = Lexicon.lengthQuantiles(d)
      .select("p50", "n_max").as[(Long, Long)].collect().head
    assert(got == ((128L, 128L)))
  }

  // ---- DedupGraph.semanticDedup ----

  test("semanticDedup: a cosine chain collapses to one component; sub-threshold pairs drop") {
    val pairs = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.5),   // chain 1-2-3 above the 0.35 cut
      (10L, 11L, 0.2))                // below the cut -> no edge, no rows
      .toDF("va", "vb", "cos")
    val got = DedupGraph.semanticDedup(pairs)
      .select("vec_id", "component", "cluster_size", "keep")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(r => r._2 == 1L && r._3 == 3L))
    assert(got.map(r => r._1 -> r._4).toMap == Map(1L -> 1, 2L -> 0, 3L -> 0))
  }

  test("corpus-level sanity at sf0.001: exact clones cluster with their source") {
    val c = Synth.corpus(spark, sf0001)
    val comp = DedupGraph.dupComponents(c).cache()
    // every synthetic exact clone (id = base + 2000000) must share a
    // component with its base doc and must not be the keeper
    val clonePairs = comp.filter($"doc_id" >= 2000000L)
      .join(comp.filter($"doc_id" < 1000000L)
          .select($"doc_id".as("base_id"), $"component".as("base_comp")),
        $"doc_id" - 2000000L === $"base_id")
    val n = clonePairs.count()
    assert(n > 0, "sf0.001 corpus has exact clones")
    assert(clonePairs.filter($"component" =!= $"base_comp").count() == 0)
    assert(comp.filter($"doc_id" >= 2000000L && $"keep" === 1).count() == 0)
    comp.unpersist()
  }
}
