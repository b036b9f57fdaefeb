package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.synth.Synth

/** Link-graph analytics over the web corpus: fixed-point PageRank — the
  * canonical iterated join+aggregate workload of web-scale curation (domain
  * authority as a quality prior, crawl prioritization, spam demotion).
  *
  * Determinism: ranks are BIGINT parts-per-billion with floor division at
  * every step (damping 0.85 as ·85/100, teleport 0.15/n as 150000000 div n),
  * so Spark and the DuckDB oracle agree bit-for-bit after any number of
  * rounds — libm-free, addition-order-free (integer sums commute exactly).
  * Mass lost to floors and to dangling nodes is NOT redistributed (the
  * simplification most production PR variants make); ranks remain a
  * deterministic total preorder, which is all a quality prior needs.
  *
  * Scale notes: each round is edges ⋈ ranks (shuffle on src, the edge table
  * partitioned once and reused) followed by ONE partial-aggregating exchange
  * on dst — the BSP round of Pregel-style PR, expressed relationally so AQE
  * sizes/skew-splits every round (a celebrity page with 10^8 in-links is a
  * hot REDUCE key with map-side combine, never a hot build side). The
  * iteration count is fixed and small (rank deltas decay geometrically; 3
  * rounds order a quality prior), so the lineage stays bounded — at a
  * production round count you'd checkpoint ranks every ~10 rounds through
  * the Snapshots writer rather than grow one plan.
  *
  * The graph is synthesized deterministically (k pseudo-random out-links per
  * doc via hash arithmetic over the contiguous base-doc id space) — the
  * corpus fixture has no real hyperlinks; the OPERATOR is the deliverable.
  */
object LinkGraph {

  private val PageRankRounds = 3
  private val HitsRounds = 2
  private val AnchorTopK = 3 // anchorText's k: terms kept per target

  /** Out-link edges: 3 quadratic-residue targets per base doc (self-links
    * dropped, duplicate targets collapsed) — many-to-one by design so the
    * graph has hubs and leaves. */
  def edges(docs: DataFrame): DataFrame = {
    val nodes = docs.filter(Synth.isBaseDoc(col("doc_id"))).select(col("doc_id"))
    val n = nodes.agg(count(lit(1)).as("n"))
    nodes.crossJoin(broadcast(n)) // 1-row total, broadcast by construction
      .withColumn("k", explode(expr("sequence(0, 2)")))
      // quadratic map, NOT affine: x*48271+c mod n is a permutation whenever
      // gcd(48271, n) = 1, which would pin every in-degree at exactly 3 — a
      // quadratic residue map is many-to-one, so the graph grows real hubs
      // (hot reduce keys) and leaves (zero in-links), the shapes PR exists
      // to rank and the skew the plan must absorb
      .withColumn("dst", expr("(doc_id * doc_id + k * 7919 + 13) % n"))
      .filter(col("dst") =!= col("doc_id"))
      .select(col("doc_id").as("src"), col("dst"))
      .distinct()
  }

  /** q140: [[PageRankRounds]] rounds of fixed-point PageRank; per node the final
    * rank (ppb) plus in/out degree. */
  def pageRank(docs: DataFrame): DataFrame = {
    val nodes = docs.filter(Synth.isBaseDoc(col("doc_id"))).select(col("doc_id"))
    val n = nodes.agg(count(lit(1)).as("n"))
    val withN = nodes.crossJoin(broadcast(n))
    val e = edges(docs)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    var ranks = withN.select(col("doc_id"), expr("1000000000 div n").as("r"))
    for (_ <- 1 to PageRankRounds) {
      val contrib = e.join(deg, "src")
        .join(ranks.select(col("doc_id").as("src"), col("r")), "src")
        .select(col("dst").as("doc_id"), expr("r div outdeg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("m"))
      ranks = withN.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (expr("150000000 div n") +
            expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    val indeg = e.select(col("dst").as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_in"))
    ranks
      .join(indeg, Seq("doc_id"), "left")
      .join(deg.select(col("src").as("doc_id"), col("outdeg")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("r").as("rank_ppb"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("outdeg"), lit(0L)).as("n_out"))
  }

  /** q143: anchor-text aggregation — the classic relevance/quality signal a
    * web corpus attaches to each TARGET page: the terms its in-links use to
    * describe it. Each edge carries the source page's anchor terms (the
    * first 3 words of the source doc — the corpus fixture has no markup, so
    * the lead words stand in for the `<a>` text deterministically); per
    * target the in-link term frequencies aggregate and the top-k terms
    * survive under a total order (n_links desc, w asc).
    *
    * Scale notes: anchors derive per-row (a `slice(split(...))` — no join
    * back to a words table), edges ⋈ anchors shuffles on `src` (AQE
    * skew-splittable), term counts collapse in ONE partial-aggregating
    * exchange on (dst, w) — a celebrity page's million in-links are a hot
    * REDUCE key with map-side combine — and the per-target top-k is the
    * WindowGroupLimit shape (map-side heaps, never a full per-target sort).
    * Output is bounded by k · targets regardless of in-link skew. */
  def anchorText(docs: DataFrame): DataFrame = {
    val anchors = docs.filter(Synth.isBaseDoc(col("doc_id")))
      .select(col("doc_id").as("src"),
        explode(slice(split(col("text"), " "), 1, 3)).as("w"))
    val counts = edges(docs).join(anchors, "src")
      .groupBy(col("dst").as("doc_id"), col("w"))
      .agg(count(lit(1)).as("n_links"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_links").desc, col("w").asc)
    counts
      .withColumn("rnk", row_number().over(byDoc))
      .filter(col("rnk") <= AnchorTopK)
      .select(col("doc_id"), col("w"), col("n_links"),
        col("rnk").cast("int").as("rnk"))
  }

  /** q144: host-graph condensation — collapse the page-level link graph to
    * host grain: (src_host, dst_host) edges with page-link weight and the
    * count of distinct linking pages, self-host edges dropped. At 10^12
    * pages this is the step that makes authority analytics tractable — the
    * host graph is orders of magnitude smaller than the page graph, and
    * every downstream ranking (host authority, spam neighborhoods, crawl
    * budgets) runs on the condensed table.
    *
    * Scale notes: two equi-joins attach hosts to edge endpoints (the
    * pid→host map is corpus-sized, so these are shuffle joins on the edge
    * key — AQE sizes and skew-splits them; the map side is never built as a
    * broadcast because hosts-per-page is 1:1 corpus cardinality), then ONE
    * partial-aggregating exchange on (src_host, dst_host). The distinct
    * linking-page count uses Spark's two-level partial-distinct aggregate —
    * no extra pass over the edge table. */
  def hostGraph(pages: DataFrame, docs: DataFrame): DataFrame = {
    val hostOf = pages.select(col("pid"),
      split_part(col("url"), lit("/"), lit(3)).as("host"))
    edges(docs)
      .join(hostOf.select(col("pid").as("src"), col("host").as("src_host")), "src")
      .join(hostOf.select(col("pid").as("dst"), col("host").as("dst_host")), "dst")
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src")).as("n_src_pages"))
  }

  /** q148: HITS hubs & authorities, [[HitsRounds]] mutual-reinforcement rounds —
    * PageRank's companion ranking (a page is a good AUTHORITY if good hubs
    * link to it; a good HUB if it links to good authorities), the other
    * classic link-quality prior a curation pipeline attaches to pages.
    *
    * Determinism: scores are BIGINT ppm; hubs start at 10^6 and each
    * half-round is sum-over-neighbors followed by max-normalization back to
    * the [0, 10^6] grid with floor division — no libm, integer sums commute
    * exactly, so Spark and the DuckDB oracle agree bit-for-bit. (Classical
    * HITS L2-normalizes — sqrt would be bit-portable via the Newton ladder
    * used elsewhere, but max-normalization preserves the same total
    * preorder and keeps every intermediate integral.) Overflow headroom:
    * score ≤ 10^6, so a node's raw sum ≤ 10^6·degree and the ·10^6
    * renormalization stays under 2^63 for any degree < 9·10^6 — beyond
    * that, drop the grid to ppk (documented bound, not a silent wrap).
    *
    * Scale notes: each half-round is the PR round shape — edges ⋈ scores
    * shuffled on one endpoint, then ONE partial-aggregating exchange on the
    * other (hot hubs/authorities are combine-collapsed reduce keys, never
    * hot build sides); the max-normalizer is a 1-row broadcast. Round count
    * fixed and small; at production round counts, checkpoint scores every
    * ~10 rounds like PR. */
  def hits(docs: DataFrame): DataFrame = {
    val nodes = docs.filter(Synth.isBaseDoc(col("doc_id"))).select(col("doc_id"))
    val e = edges(docs)
    var hub = nodes.select(col("doc_id"), lit(1000000L).as("s"))
    var auth = nodes.select(col("doc_id"), lit(0L).as("s"))
    for (_ <- 1 to HitsRounds) {
      val araw = e.join(hub.select(col("doc_id").as("src"), col("s")), "src")
        .groupBy(col("dst").as("doc_id")).agg(sum(col("s")).as("raw"))
      val amax = araw.agg(max(col("raw")).as("mx"))
      auth = nodes.join(araw, Seq("doc_id"), "left").crossJoin(broadcast(amax))
        .select(col("doc_id"),
          expr("coalesce(raw, CAST(0 AS BIGINT)) * 1000000 div mx").as("s"))
      val hraw = e.join(auth.select(col("doc_id").as("dst"), col("s")), "dst")
        .groupBy(col("src").as("doc_id")).agg(sum(col("s")).as("raw"))
      val hmax = hraw.agg(max(col("raw")).as("mx"))
      hub = nodes.join(hraw, Seq("doc_id"), "left").crossJoin(broadcast(hmax))
        .select(col("doc_id"),
          expr("coalesce(raw, CAST(0 AS BIGINT)) * 1000000 div mx").as("s"))
    }
    auth.select(col("doc_id"), col("s").as("auth_ppm"))
      .join(hub.select(col("doc_id"), col("s").as("hub_ppm")), "doc_id")
  }

  /** q153: reciprocal-link farm detection — host cliques wired together by
    * ABOVE-AVERAGE mutual linkage, the classic link-spam neighborhood
    * signal (organic links are mostly one-way; farms trade them). A
    * reciprocal pair's strength is the weaker direction (`least` — a farm
    * must feed both ways); pairs at or above the mean strength (exact
    * integer cross-multiplication, no division) are closed into connected
    * components by the same min-label + pointer-jumping loop as the dedup
    * graph, and every member host reports its farm label (lexicographically
    * smallest member), farm size, and reciprocal degree.
    *
    * Scale notes: everything runs on the CONDENSED host graph (q144 — the
    * 10¹²-page edge set collapses to host pairs first); the reciprocal join
    * keys on the reversed host pair (equi-join, AQE-splittable); the mean
    * threshold is a 1-row broadcast; the CC loop runs over the strong-pair
    * table (farm-density-sized, NOT host-count-sized) with O(log max-farm)
    * rounds. */
  def linkFarms(pages: DataFrame, docs: DataFrame): DataFrame = {
    val hg = hostGraph(pages, docs)
    val rec = hg.as("a").join(hg.as("b"),
        col("a.src_host") === col("b.dst_host") &&
        col("a.dst_host") === col("b.src_host") &&
        col("a.src_host") < col("a.dst_host"))
      .select(col("a.src_host").as("host_a"), col("a.dst_host").as("host_b"),
        least(col("a.n_links"), col("b.n_links")).as("mutual"))
    val tot = rec.agg(sum(col("mutual")).as("s"), count(lit(1)).as("c"))
    val strong = rec.crossJoin(broadcast(tot)) // 1-row mean, broadcast by construction
      .filter(col("mutual") * col("c") >= col("s"))
      .select(col("host_a").as("doc_a"), col("host_b").as("doc_b"))
    val comp = DedupGraph.components(strong)
    val und = strong.select(col("doc_a").as("host"), col("doc_b").as("partner"))
      .unionByName(strong.select(col("doc_b").as("host"), col("doc_a").as("partner")))
    val deg = und.groupBy(col("host")).agg(count(lit(1)).as("n_partners"))
    val fsz = comp.groupBy(col("component")).agg(count(lit(1)).as("farm_size"))
    comp.select(col("doc_id").as("host"), col("component").as("farm_host"))
      .join(fsz.select(col("component").as("farm_host"), col("farm_size")), "farm_host")
      .join(deg, "host")
      .select(col("host"), col("farm_host"), col("farm_size"), col("n_partners"))
  }
}
