package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.Dataset
import graft.SparkTestBase
import graft.geo.PipLookup
import graft.synth.Synth

/** Physical-plan quality gates — the 100 TB design assertions (SURVEY.md §4).
  * These lock in the plan shape, not just the results: the PIP join must stay
  * a broadcast-hash join (zero fact-side shuffle), scans must push filters
  * and prune columns, and the hot path must stay inside whole-stage codegen.
  */
class PlanSpec extends SparkTestBase {

  /** The gates read physical plans: a relation that a suite run earlier in
    * this JVM left cached would turn them into `InMemoryRelation` scans, so
    * the gates would pass or fail by suite order. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cached relation is registered before the plan gates ran")
  }

  private def physical(df: Dataset[_]): String = {
    df.collect() // execute THIS plan so AQE finalizes it (isFinalPlan=true)
    // keep only the final AQE plan (the string also embeds the initial plan)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** pip_lookup expressions in a physical plan, through AQE query stages
    * and cached relations: a lookup folded into an aggregate's result
    * projection does not show in the plan string. */
  private def pipLookups(p: SparkPlan): Int = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p.expressions.map(_.collect { case _: PipLookup => 1 }.size).sum + (p.children ++ inner).map(pipLookups).sum
  }

  test("PIP spatial join is broadcast-hash (fact side never shuffles)") {
    val plan = physical(graft.ops.SpatialJoin.assign(spark, Synth.points(spark, sf0001)))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "PIP join degraded to SMJ:\n" + plan.take(2000))
  }

  test("flagship tiles plan: both dimension joins broadcast; single codegen pipeline") {
    val tiles = Inundate.tiles(spark, Synth.points(spark, sf0001))
    val plan = physical(tiles)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2)
    assert(!plan.contains("SortMergeJoin"))
    // whole-stage codegen spans appear as "*(n)" markers in the final plan
    assert("""\*\(\d+\) BroadcastHashJoin""".r.findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("column pruning reaches the parquet scan (2-col projection reads 2 cols)") {
    val df = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(col("l_quantity") > 30)
    val plan = physical(df)
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("l_orderkey") && scanLine.contains("l_quantity"))
    assert(!scanLine.contains("l_extendedprice"), scanLine)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"))
  }

  test("mosaic aggregation does partial (map-side) aggregation before the shuffle") {
    val plan = physical(Inundate.run(spark, sf0001))
    // two HashAggregates (partial + final) around one exchange on the cell key
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("salted agg adds no extra shuffle vs its logical intent (2 stages, AQE-coalesced)") {
    val pts = Synth.points(spark, sf0001)
    val salted = graft.ops.SaltedAgg.countAndMax(pts, col("ccell"), col("pid"), col("hand"), 32)
    val plan = physical(salted)
    // stage 1 partial by (k, salt), stage 2 final by k — exactly 2 exchanges max
    assert("Exchange".r.findAllIn(plan).size <= 2, plan.take(2000))
  }

  test("PIP lookup expression participates in codegen (no CodegenFallback wrapper)") {
    val df = graft.ops.SpatialJoin.assign(spark, Synth.points(spark, sf0001))
    val plan = physical(df)
    // the catchment lookup is the stream-side key of the attribute join, a
    // broadcast-hash join inside a whole-stage-codegen stage
    assert("""\*\(\d+\) BroadcastHashJoin \[pip_lookup\(lng#\d+, lat#\d+\)\], \[hydroid#\d+\], Inner, BuildRight""".r
      .findFirstIn(plan).isDefined, plan.take(1500))
    // ... compiled to its own doGenCode (a CodegenFallback would instead
    // call back into the expression's eval through the references array)
    val generated = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert(generated.contains(".lookup("), generated.take(3000))
    assert("""\(\(Expression\) references\[\d+\]\)\.eval""".r.findFirstIn(generated).isEmpty,
      generated.take(3000))
    // and the fact side never shuffles: the only exchange is the broadcast
    assert("""(?<!Broadcast)Exchange """.r.findFirstIn(plan).isEmpty, plan.take(1500))
    // ... up to the mosaic, whose groupBy(cell) is the flagship's one shuffle
    val mosaic = physical(Inundate.run(spark, sf0001))
    assert("""(?<!Broadcast)Exchange """.r.findAllIn(mosaic).size == 1, mosaic.take(3000))
    assert(mosaic.contains("Exchange hashpartitioning(cell"), mosaic.take(3000))
    // the lookup runs once per point: the stage join's lake filter on
    // hydroid is not copied onto the fact side
    assert("pip_lookup".r.findAllIn(mosaic).size == 1, mosaic.take(3000))
  }

  test("polygon-mask agreement: NO exchange, NO join, one mask lookup per cell") {
    val df = graft.ops.Agreement.metrics(graft.ops.Agreement.agreement(spark, Inundate.run(spark, sf0001)))
    val plan = physical(df)
    // exactly one hash exchange in the whole plan — the mosaic groupBy(cell)
    assert("Exchange hashpartitioning\\(cell".r.findAllIn(plan).size == 1, plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(3000))
    // two lookups: catchments on points, masks on cells
    assert(pipLookups(df.queryExecution.executedPlan) == 2, plan.take(3000))
    // the mask flag is a projection over the mosaic's final aggregate, not a
    // join (the plan prints top-down: everything above that aggregate
    // precedes its line)
    val finalAgg = """HashAggregate\(keys=\[cell#\d+L\], functions=\[max\(""".r
      .findFirstMatchIn(plan).getOrElse(fail(plan.take(3000)))
    assert(!plan.take(finalAgg.start).contains("Join"), plan.take(3000))
    val generated = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert("""\(\(Expression\) references\[\d+\]\)\.eval""".r.findFirstIn(generated).isEmpty,
      generated.take(3000))
  }

  test("Manning Newton chain stays stacked projections (no exponential expression inlining)") {
    val sub = graft.ops.Calibration.subdivide(
      graft.ops.Calibration.srcGeom(spark).filter(col("hydroid") % 7 === 3))
    val plan = physical(sub.select(col("hydroid"), col("stage"), col("q_subdiv")))
    // the 8-step chain appears as Projects inside codegen, and the plan text
    // stays small — an exponential inline (3^8 nodes per step) would explode
    // the string far past this bound
    assert(plan.length < 400000, s"plan blew up: ${plan.length} chars")
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("near-dup candidate plan: broadcast/equi joins only, no cartesian product") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val plan = physical(graft.ops.AnnSearch.nearDupPairs(emb))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("paragraph dedup: bounded exchanges, NO window (skew-splittable winner join), partial aggs map-side") {
    val plan = physical(graft.ops.WebCuration.paragraphDedup(Synth.corpus(spark, sf0001)))
    // AT MOST three exchanges: winner agg on h, the paras side of the winner
    // join on h (AQE broadcasts it away at this sf), and the per-doc
    // reassembly on doc_id. Paragraph derivation itself must stay a pure map
    // — a fourth exchange means the per-word explode/regroup shape
    // (sub-linear at ×256: docs/sec ratio 0.59) regressed back in
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 3, plan.take(3000))
    // the winner must be a partial-aggregating min(struct) + join — a window
    // would serialize a boilerplate paragraph's copies into one unsplittable
    // task (AQE can split skewed joins, never window partitions)
    assert(!plan.contains("Window"), "dedup winner regressed to a window:\n" + plan.take(3000))
    assert(plan.contains("partial_min"), "winner lost map-side combine")
    // the packed-BIGINT winner key must keep the min in HashAggregate —
    // min(struct) degrades to SortAggregate (sorts every partition)
    assert(!plan.contains("SortAggregate"), "winner agg degraded to SortAggregate")
    assert(plan.contains("partial_collect_list"), "paragraph assembly lost map-side combine")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("fingerprint: HashAggregate fast path, NO window, no object agg, no global sort") {
    val plan = physical(graft.ops.TextOps.fingerprint(Synth.corpus(spark, sf0001)))
    // the r4 window shape sorted every (doc_id, h) partition globally; the r5
    // collect_set shape kept a corpus-sized exchange + ObjectHashAggregate's
    // sort-based fallback (threshold 128 groups — always, at corpus scale).
    // MinK4's fixed-width 4-long buffer must stay in HashAggregateExec with
    // map-side combine: exchange payload = 4 longs per doc.
    assert(!plan.contains("Window"), "fingerprint regressed to a window:\n" + plan.take(3000))
    assert(!plan.contains("SortAggregate"), plan.take(3000))
    assert(!plan.contains("ObjectHashAggregate"),
      "k-min regressed to object aggregation (corpus-sized partial state):\n" + plan.take(3000))
    assert(plan.contains("partial_min_k4"), "k-min lost map-side combine:\n" + plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(3000))
  }

  test("FR+MS composite: ONE scan of the fact table, one mosaic exchange, no union") {
    val plan = physical(Inundate.compositeMosaic(spark, sf0001))
    // the points scan + geocode/PIP chain is the 100 TB dominant cost — the
    // composite must run it exactly once (fr inner + ms left broadcast joins
    // in the same chain, both depths as columns)
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      "composite scans the fact table more than once:\n" + plan.take(3000))
    assert("Exchange hashpartitioning\\(cell".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(!plan.contains("Union"), "composite regressed to a union of two passes")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("merge upsert: anti-join broadcasts the update batch (target never shuffles)") {
    val plan = physical(Maintenance.mergeUpsert(
      Synth.forecast(spark), Maintenance.forecastRevisions(spark), "feature_id"))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "merge degraded to SMJ:\n" + plan.take(2000))
  }

  test("site acceptance: threshold dims broadcast; SRC max is a partial HashAggregate") {
    val plan = physical(graft.ops.CatFim.siteAcceptance(spark))
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 2, plan.take(3000))
    assert(plan.contains("partial_max"), "curve max lost map-side combine")
    assert(!plan.contains("Exchange hashpartitioning"),
      "SRC side shuffled — dims should broadcast:\n" + plan.take(3000))
  }

  test("top-k window filters trigger WindowGroupLimit (bounded per-group state, no full-sort blowup)") {
    // rn <= constant k over row_number windows must hit Spark's group-limit
    // pushdown — each partition keeps only k rows per group before the
    // window sort. (q81's quota is a COLUMN, so it legitimately cannot.)
    for (q <- Seq("q21_ann_brute", "q34_keep_largest")) {
      val plan = physical(graft.SparkEntry.queries(q)(spark, sf0001))
      assert(plan.contains("WindowGroupLimit"), s"$q lost WindowGroupLimit:\n" + plan.take(2000))
    }
  }

  /** Estimate-planned gate for a candidate-pair scorer: Catalyst's size
    * estimates for the kernel-derived array tables are scan-based guesses,
    * and BOTH attach sides are dup-density-bounded (a re-crawl storm can
    * inflate them corpus-scale) — a statically-chosen broadcast is the
    * 8 GB-cliff/OOM the round-3 bench actually hit with the old exploded
    * shingle table. The gate inspects the ESTIMATE-planned physical plan:
    * the shuffle_hash hints must pin shuffled hash joins for the two
    * attach joins, and no generator may explode a shingle or embedding
    * array (the row form). */
  private def assertArrayFormAttach(df: Dataset[_], keys: String): Unit = {
    val plan = df.queryExecution.sparkPlan.toString
    assert(s"BroadcastHashJoin \\[($keys)#".r.findFirstIn(plan).isEmpty,
      "array-side broadcast returned:\n" + plan.take(3000))
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2,
      "attach joins lost the shuffle_hash build:\n" + plan.take(2000))
    assert("""Generate (pos)?explode\((shingles60|embedding)""".r.findFirstIn(plan).isEmpty,
      "row-form explode returned:\n" + plan.take(3000))
  }

  test("jaccard verify never broadcasts the shingle-array table (estimates mislead Catalyst)") {
    assertArrayFormAttach(graft.ops.TextOps.ngramJaccard(Synth.corpus(spark, sf0001)), "doc_a|doc_b")
  }

  test("every pair scorer attaches arrays with shuffled hash joins, never a broadcast or explode") {
    import graft.ops.{AnnSearch, TextOps}
    val corpus = Synth.corpus(spark, sf0001)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    assertArrayFormAttach(TextOps.containment(corpus), "doc_a|doc_b")
    assertArrayFormAttach(TextOps.incrementalDedup(corpus), "doc_a|doc_b")
    assertArrayFormAttach(TextOps.fuzzyDecontaminate(corpus,
      col("doc_id") < 1000000L && col("doc_id") % 37 === 0), "doc_a|doc_b")
    assertArrayFormAttach(AnnSearch.nearDupPairs(emb), "va|vb")
    assertArrayFormAttach(AnnSearch.srpTopK(emb), "qvec|vec")
    assertArrayFormAttach(AnnSearch.ivfTopK(emb), "qvec|vec")
  }

  test("bridge flows: buffer cover + threshold dims broadcast; zonal max is a partial agg") {
    val plan = physical(graft.ops.Bridges.bridgeFlows(spark, Synth.points(spark, sf0001)))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
    assert(plan.contains("partial_max"), "zonal max lost map-side combine")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("rating trace: path-keyed windows, no cartesian, gage dim broadcast") {
    val plan = physical(graft.ops.Calibration.usgsRatingTrace(spark))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), "reach×gage join should broadcast the gage dim")
  }

  test("alpha-by-hydroid: one fact scan, two exchanges, all dims broadcast, partial counts") {
    // the reference's 20-32 h per-catchment workload must stay: scan →
    // broadcast PIP/stage joins → mosaic exchange (cell) → broadcast zonal
    // PIP → ONE more exchange (hydroid grouping) → melt. Anything beyond two
    // hash exchanges or any SMJ means the 100 TB shape regressed.
    val plan = physical(graft.ops.Agreement.alphaByHydroId(
      spark, Inundate.run(spark, sf0001)))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      "alpha metrics scan the fact table more than once:\n" + plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count"), "combo counts lost map-side combine")
  }

  test("decontaminate: ONE corpus pass — eval set broadcast, single hash exchange") {
    // the 100 TB shape: the (definitionally small) eval shingle set is the
    // ONLY broadcast; the corpus shingle table is scanned once and exchanged
    // once (both counts ride the same partial-aggregating groupBy). A second
    // doc_id exchange means the two-pass sizes+overlap shape regressed in.
    // (The eval side's own distinct-hb exchange is over the small table and
    // sits below the broadcast — allowed.) A PLAIN parquet read, not
    // Synth.corpus: the synth table is a 3-branch union, so per-side scan
    // counts would triple and mask a genuine input-duplication regression.
    val c = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = physical(graft.ops.TextOps.decontaminate(
      c, c.filter(col("doc_id") % 37 === 0)))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).size === 1,
      "corpus shingle table exchanged more than once:\n" + plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      "unexpected extra exchange beyond corpus agg + eval distinct:\n" + plan.take(3000))
    assert("Scan parquet".r.findAllIn(plan).size <= 2, // corpus + eval subset
      "corpus scanned more than once per side:\n" + plan.take(3000))
    assert(plan.contains("partial_count"), "overlap counts lost map-side combine")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("shingle top-k: TakeOrderedAndProject, never a global sort exchange") {
    val plan = physical(graft.ops.TextOps.shingleTopK(Synth.corpus(spark, sf0001)))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Exchange rangepartitioning"),
      "top-k regressed to a global sort:\n" + plan.take(3000))
    assert(plan.contains("partial_count"), "document-frequency agg lost map-side combine")
  }

  test("tfidf top-k: WindowGroupLimit bounds per-doc state; corpus total broadcast") {
    val plan = physical(graft.ops.Lexicon.tfidfTopK(Synth.corpus(spark, sf0001)))
    assert(plan.contains("WindowGroupLimit"),
      "per-doc top-k lost the group-limit pushdown:\n" + plan.take(3000))
    assert(!plan.contains("CartesianProduct"),
      "1-row n_docs total must broadcast, not cartesian:\n" + plan.take(2000))
  }

  test("postings probe: term set broadcast against the postings table") {
    val plan = physical(graft.ops.Lexicon.postingsProbe(Synth.corpus(spark, sf0001)))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "probe term set degraded to SMJ — postings side would shuffle:\n" + plan.take(2000))
  }

  test("seq pack: ONE exchange (the shard key); sort confined to shard partitions") {
    val plan = physical(graft.ops.Packing.seqPack(Synth.corpus(spark, sf0001)))
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(plan).size === 1,
      "packing must shuffle once on the writer-shard key:\n" + plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"),
      "packing sort regressed to a GLOBAL sort:\n" + plan.take(3000))
  }

  test("mix weights: scalar aggregates + broadcast total, no extra exchange") {
    val plan = physical(graft.ops.Packing.mixWeights(Synth.corpus(spark, sf0001)))
    assert(plan.contains("partial_count"), "per-lang agg lost map-side combine")
    assert(!plan.contains("CartesianProduct"),
      "1-row total must broadcast, not cartesian:\n" + plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      "mix plan should be two bounded aggregates:\n" + plan.take(3000))
  }

  test("dup-graph edges: bucketed/equi joins only — never all-pairs") {
    val plan = physical(graft.ops.DedupGraph.dupEdges(Synth.corpus(spark, sf0001)))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("dup-span profile: pure hash aggregates + one equi-join, never a window") {
    val plan = physical(graft.ops.TextOps.dupSpanProfile(Synth.corpus(spark, sf0001)))
    assert(!plan.contains("Window"), "span profile must not sort per doc:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("partial_count"), "df agg lost map-side combine")
  }

  test("BPE pair count: top-k is TakeOrdered (per-partition heaps), never a global sort") {
    val plan = physical(graft.ops.Lexicon.bpePairs(Synth.corpus(spark, sf0001)))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Exchange rangepartitioning"),
      "pair top-k regressed to a global sort:\n" + plan.take(2000))
  }

  test("zone maps: ONE exchange for both layouts (union is map-side, skip is projection)") {
    val plan = physical(graft.ops.Layout.zoneMaps(
      Synth.points(spark, sf0001), 2958, 3003, 2412, 2457))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("rarity buckets: aggregate/join pipeline with a broadcast total — no window") {
    val plan = physical(graft.ops.Lexicon.rarityBuckets(Synth.corpus(spark, sf0001)))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "1-row total must broadcast, not cartesian:\n" + plan.take(2000))
  }

  test("domain cap: rank filter pushes into WindowGroupLimit (map-side top-k heaps)") {
    val plan = physical(graft.ops.WebCuration.domainCap(Synth.pages(spark, sf0001)))
    assert(plan.contains("WindowGroupLimit"),
      "row_number<=k cut lost the group-limit pushdown:\n" + plan.take(3000))
  }

  test("length quantiles: one histogram derivation; window sorts only the histogram") {
    val plan = physical(graft.ops.Lexicon.lengthQuantiles(Synth.corpus(spark, sf0001)))
    // the corpus collapses through ONE (lang, n_tokens) partial-agg exchange;
    // the per-lang total is a full-frame window over the SAME histogram (a
    // joined-back aggregate would rescan the corpus whenever exchange reuse
    // failed to kick in — reuse is opportunistic, the single-derivation
    // shape is structural)
    assert(!plan.contains("Join"),
      "totals regressed to a joined-back aggregate:\n" + plan.take(3000))
    assert(plan.contains("partial_count"), "histogram lost map-side combine")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2,
      "histogram derived more than once:\n" + plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"),
      "quantile cut regressed to a global sort:\n" + plan.take(2000))
  }

  test("dup-span removal: df agg partial; islands windows sit above the dup-scoped join") {
    val plan = physical(graft.ops.TextOps.dupSpanRemoval(Synth.corpus(spark, sf0001)))
    assert(plan.contains("partial_count"), "df agg lost map-side combine")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    // the gaps-and-islands windows are per-doc: never a single-partition sort
    assert(!plan.contains("Exchange SinglePartition"),
      "island windows collapsed to one partition:\n" + plan.take(3000))
  }

  test("KMV distinct: dense_rank<=k pushes into WindowGroupLimit (estimate path never shuffles the hash table)") {
    val plan = physical(graft.ops.TextOps.kmvDistinct(Synth.corpus(spark, sf0001)))
    assert(plan.contains("WindowGroupLimit"),
      "dense_rank<=k cut lost the group-limit pushdown:\n" + plan.take(3000))
  }

  test("compaction plan: single-partition window only AFTER the manifest-scale agg") {
    val plan = physical(Maintenance.hucCompactionPlan(spark, sf0001))
    // the one SinglePartition exchange sits above the per-huc8 aggregate
    // (manifest-scale rows), never above the raw points
    val idx = plan.indexOf("Exchange SinglePartition")
    assert(idx >= 0, plan.take(3000))
    assert(plan.substring(idx).contains("HashAggregate"),
      "global window placed below the partition-size aggregate:\n" + plan.take(3000))
    assert("Exchange SinglePartition".r.findAllIn(plan).size === 1)
  }
}
