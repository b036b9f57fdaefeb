package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global duplicate-cluster resolution — the step AFTER pair generation that
  * every production dedup run needs (C4/RefinedWeb/SlimPajama keep one doc
  * per *connected component* of the dup graph, not one per pair): exact-dup
  * edges ∪ verified near-dup edges → connected components → a canonical doc
  * (the component's min id) plus the cluster size for removal accounting.
  *
  * Scale notes: components are computed by min-label propagation with pointer
  * jumping (comp ← min over {self} ∪ neighbor comps, then comp ← comp(comp)),
  * the DataFrame form of the two-phase star-contraction family (Kiveris et al.
  * "Connected Components in MapReduce and Beyond", SoCC'14). Propagation alone
  * converges in O(diameter) rounds; the pointer-jump halves label-tree depth
  * each round, giving O(log n) rounds on adversarial chain graphs (a chain of
  * mutually-truncated near-dups is exactly such a graph). Every round is two
  * bounded shuffles over the EDGE table (never docs²), partial-aggregating
  * `min` both times, so each round is AQE-sized and skew-splittable; the
  * convergence check collects one changed-row count per round — the same
  * small-state iterate as the k-means trainer (AnnSearch).
  */
object DedupGraph {

  private val MaxIters = 25 // components' round bound
  private val SemanticCos = 0.35 // semanticDedup's edge cut

  /** Undirected dup edges (doc_a < doc_b) over the corpus: the
    * exact-content star ([[TextOps.exactDupStar]]) ∪ LSH-candidate pairs
    * whose exact n-gram Jaccard clears [[TextOps.NearDupJaccard]]. Pair generation is the
    * bucketed LSH family from [[TextOps]] — never all-pairs. */
  def dupEdges(docs: DataFrame): DataFrame = {
    val exact = TextOps.exactDupStar(docs)
      .select(col("keeper").as("doc_a"), col("doc_id").as("doc_b"))
    val near = TextOps.ngramJaccard(docs)
      .filter(col("jaccard") >= TextOps.NearDupJaccard)
      .select(col("doc_a"), col("doc_b"))
    exact.unionByName(near).distinct()
  }

  /** Connected components of an undirected (doc_a, doc_b) edge table.
    * Returns (doc_id, component) for every endpoint, component = the min
    * doc_id reachable. Deterministic at any partitioning: every step is a
    * `min` aggregate. [[MaxIters]] is a safety bound far above the O(log n)
    * convergence of propagate+jump.
    *
    * Each round's label table is `localCheckpoint`ed, not merely cached:
    * one iteration references the previous labels four times (propagate ×2,
    * jump ×2), so an un-truncated logical plan QUADRUPLES per round and by
    * round ~10 the planner itself (cache-match walks, plan stringification)
    * is exponentially slower than the data — caching bounds recompute but
    * not plan size. Checkpointing pins each round to a constant-size plan,
    * the standard Spark iterate discipline (on a multi-executor cluster
    * swap in `checkpoint()` against reliable storage if executor loss
    * mid-loop must be survivable — the loop is otherwise restartable from
    * its inputs, so local is the right default). */
  def components(edges: DataFrame): DataFrame = {
    val und = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // materialize the (bounded, dup-density-sized) edge list once; every
    // round joins against it — checkpointed so the (possibly expensive)
    // pair-generation lineage is cut from every round's plan
    val undC = und.localCheckpoint()
    // SEED = round-1 propagate for free: comp₀(v) = min({v} ∪ neighbors) is
    // one partial-aggregating min over the edge table itself — no join (the
    // old identity seed paid a full join round to reach the same state).
    // Star components (the dominant dup shape: exact-content groups are
    // emitted as stars) are fully labelled by the seed alone, so the loop
    // often runs exactly one confirming round.
    var labels = undC.select(col("src").as("doc_id"), col("dst").as("comp"))
      .unionByName(undC.select(col("src").as("doc_id"), col("src").as("comp")))
      .groupBy(col("doc_id")).agg(min(col("comp")).as("comp"))
      .localCheckpoint()
    var converged = false
    var it = 0
    // Convergence: each round carries every row's previous label through
    // the propagate aggregate (the own row gives `prev`, neighbour rows
    // give NULL, `max(prev)` keeps it), so the just-checkpointed table
    // itself says whether any row changed: one local scan of its
    // partitions, for ids of any type. Labels never increase, so "no row
    // changed" is the fixpoint.
    // The propagate is the UNION form — labels ∪ edge-carried neighbor
    // labels into ONE partial-aggregating min — one fewer exchange per
    // round than the aggregate-then-left-join form, same minima.
    while (!converged && it < MaxIters) {
      val next = round(undC, labels).localCheckpoint()
      converged = next.filter(col("comp") =!= col("prev")).count() == 0L
      labels = next
      it += 1
    }
    labels.select(col("doc_id"), col("comp").as("component"))
  }

  /** One propagate + pointer-jump round of [[components]] over the
    * undirected edges `und` (src, dst) and labels (doc_id, comp): →
    * (doc_id, comp, prev), `prev` the row's label before the round. */
  private[ops] def round(und: DataFrame, labels: DataFrame): DataFrame = {
    // propagate: comp ← min(own comp, neighbors' comps)
    val contrib = und
      .join(labels.select(col("doc_id").as("dst"), col("comp")), "dst")
      .select(col("src").as("doc_id"), col("comp"),
        lit(null).cast(labels.schema("comp").dataType).as("prev"))
    val prop = contrib
      .unionByName(labels.select(col("doc_id"), col("comp"), col("comp").as("prev")))
      .groupBy(col("doc_id")).agg(min(col("comp")).as("comp"), max(col("prev")).as("prev"))
    // pointer jump: comp ← comp(comp) — labels are min-ids so the label
    // table itself maps old roots to newer, smaller roots. `comp` is never
    // NULL, so comp2 is `comp`; reading `prev` after it keeps this side's
    // aggregate identical to the other side's (min(comp), max(prev), in
    // that order), so AQE reuses its exchange instead of shuffling the
    // union twice (LexiconSpec gates the reuse).
    val roots = prop.select(col("doc_id").as("comp"),
      coalesce(col("comp"), col("prev")).as("comp2"))
    prop
      .join(roots, Seq("comp"), "left")
      .select(col("doc_id"), coalesce(col("comp2"), col("comp")).as("comp"), col("prev"))
  }

  /** q132: SemDeDup-style SEMANTIC dedup ledger — near-duplicate *meaning*,
    * not near-duplicate *bytes* (Abbas et al. 2023: paraphrases, boilerplate
    * rewrites and template spins share embeddings, not shingles). Pairs come
    * from the SRP multi-table candidate path ([[graft.ops.AnnSearch]]
    * `nearDupPairs` — bucketed, capped, never all-pairs) at cosine ≥
    * [[SemanticCos]]; the same min-label propagation then closes them into
    * components so a chain of pairwise-similar paraphrases collapses to ONE
    * kept representative (pair-level keep-one would leave half of every odd
    * chain in the corpus). Output: one ledger row per vector that
    * participates in any semantic-dup relation. */
  def semanticDedup(pairs: DataFrame): DataFrame = {
    val edges = pairs.filter(col("cos") >= SemanticCos)
      .select(col("va").as("doc_a"), col("vb").as("doc_b"))
    ledger(edges, col("doc_id").as("vec_id"))
  }

  /** The keep-one-per-component ledger of an edge table: (`id`, component,
    * cluster_size, keep), keep ⇔ the doc is its component's min id. */
  private def ledger(edges: DataFrame, id: Column): DataFrame = {
    val comp = components(edges)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "component")
      .select(id, col("component"), col("cluster_size"),
        (col("doc_id") === col("component")).cast("int").as("keep"))
  }

  /** q142: canonical-document selection by QUALITY — inside each dup
    * component, keep the member with the best classifier score instead of
    * the smallest id (the policy step RefinedWeb/FineWeb-style pipelines run
    * after clustering: of N copies, retain the least-mangled one; min-id
    * keep would happily retain the truncated clone). Winner = max score,
    * ties broken by min doc_id via one `min(struct)` partial aggregate —
    * never a per-component window. Composes two oracle-checked chains
    * (dup components ∘ hashed quality classifier) end-to-end. */
  def canonicalPick(docs: DataFrame): DataFrame = {
    val comp = components(dupEdges(docs))
    val scored = QualityModels.qualityClassifier(docs)
      .select(col("doc_id"), col("avg_shift_ppk").as("score"))
    val m = comp.join(scored, "doc_id")
    val win = m.groupBy(col("component"))
      .agg(min(struct((-col("score")).as("ns"), col("doc_id").as("id"))).as("w"))
      .select(col("component"), col("w.id").as("winner"))
    m.join(win, "component")
      .select(col("doc_id"), col("component"), col("score"),
        (col("doc_id") === col("winner")).cast("int").as("keep"))
  }

  /** q118: every doc that participates in any dup relation, its component's
    * canonical id, and the component size — the keep/drop ledger of a
    * cluster-level dedup pass (keep ⇔ doc_id = component). */
  def dupComponents(docs: DataFrame): DataFrame = ledger(dupEdges(docs), col("doc_id"))
}
