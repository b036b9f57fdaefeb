package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`), for embedding-based near-dup detection and similarity
  * retrieval at corpus scale.
  *
  * Determinism design: embeddings are quantized to int millis
  * (`round(x*1000)` — int8-style quantization, standard at scale), so dot
  * products and norms are exact BIGINT sums — order-insensitive, bit-equal in
  * any engine; only the final cosine divides in double.
  *
  * Two array-form scorers, one per kind of pair, both computing the dot as
  * one `zip_with`/`aggregate` per row:
  *  - [[rerank]] (vector × vector): the ONE candidate cosine rerank of the
  *    scale paths [[srpTopK]] / [[ivfTopK]] / [[ivfTopKWith]] /
  *    [[nearDupPairs]] — SRP buckets or IVF lists prune candidates, and only
  *    those pairs are scored.
  *  - [[centroidScores]] (vector × centroid): the ONE centroid scorer of the
  *    IVF/Lloyd family, against a broadcast centroid table. IVF list
  *    assignment and probes ([[ivfCandidatesWith]]) and the k-means E-step
  *    ([[kmeansStep]], [[kmeansStepWith]]) read it through one [[argmax]];
  *    [[kmeansIterateFrom]] is the one Lloyd driver.
  *
  * The long (vec, pos, q) form stays where it is the natural shape:
  * [[bruteTopK]]'s all-pairs join (no candidate table to rerank; partial
  * aggregation handles the fan-out) and the Lloyd M-step's per-(cluster, dim)
  * sums.
  */
object AnnSearch {

  /** Query vectors of every top-k path: `vec_id % QueryMod == 0`. */
  private val QueryMod = 250

  /** The fixed coarse quantizer of [[ivfTopK]] and [[kmeansStep]]: the
    * vectors with `vec_id % CentroidMod == 7` stand in as centroids. */
  private val CentroidMod = 50

  private val TopK = 5 // neighbors per query of every top-k path
  private val NProbe = 3 // IVF lists a query probes
  private val NAssign = 1 // IVF lists a vector is indexed under
  private val NearDupBucket = 32 // near-dup candidates: expected bucket population,
  private val NearDupTables = 8  // SRP tables,
  private val NearDupCap = 8     // and neighbors each vector pairs with per table

  /** Long form (vec_id, pos, q) with quantized values. Zero terms are kept:
    * dropping them (mirrored in the oracle's qt CTE) would shrink the join
    * fan-in slightly, but the synthetic embeddings have almost no exact
    * zeros, so the plumbing stays simpler. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        round(col("v").cast("double") * 1000.0).cast("long").as("q"))

  /** ARRAY form of the quantization — same per-element `round(v·1000)` (the
    * identical Spark `round`, HALF_UP), kept as one `array<bigint>` per
    * vector so signature/rerank math can run per row instead of over a
    * posexploded (vec, pos, q) table. */
  def quantizedArr(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), expr(
      "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))").as("qa"))

  def norms(quant: DataFrame): DataFrame =
    quant.groupBy(col("vec_id")).agg(sum(col("q") * col("q")).as("n2"))

  /** Norms off the array form: (vec_id, qa) → (vec_id, qa, n2) with one
    * higher-order `aggregate` per row — no explode, no exchange; integer
    * sums commute so n2 matches [[norms]]. */
  def normsArr(qarr: DataFrame): DataFrame =
    qarr.select(col("vec_id"), col("qa"),
      expr("aggregate(qa, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").as("n2"))

  /** The ONE pair-cosine chain of the ANN family: candidate pairs (a, b) →
    * (a, b, cos) by exact quantized cosine. Both sides' vectors are cut to
    * pair participants (left_semi on bare ids) and cached as
    * ([[quantizedArr]], [[normsArr]]) rows, attached with two shuffle_hash
    * joins (build = candidate chain; Catalyst's estimate of the vector table
    * is a scan-based guess, so an estimate-based broadcast is the 8 GB-cliff
    * risk the dedup verify also pins against), and the dot is one
    * `zip_with`/`aggregate` per pair row: no (vec, pos, q) explode and no
    * (a, b) aggregate exchange. Integer dot/norm sums commute, so values
    * equal the long-form join's, and `cos` is the same double expression.
    *
    * PRECONDITION: every embedding has the same length and no null
    * elements. `zip_with` pads a shorter array with nulls (null dot → null
    * cos) where a `pos`-keyed join would drop the unmatched positions, and
    * a null element nulls the `aggregate` where `sum` would skip it. */
  private def rerank(cand0: DataFrame, emb: DataFrame, a: String, b: String): DataFrame = {
    val cand = cand0.cache()
    val ids = cand.select(col(a).as("vec_id"))
      .union(cand.select(col(b).as("vec_id"))).distinct()
    val v = normsArr(quantizedArr(emb).join(ids, Seq("vec_id"), "left_semi")).cache()
    cand
      .hint("shuffle_hash")
      .join(v.select(col("vec_id").as(a), col("qa").as("qa_a"), col("n2").as("n2_a")), a)
      .hint("shuffle_hash")
      .join(v.select(col("vec_id").as(b), col("qa").as("qa_b"), col("n2").as("n2_b")), b)
      .select(col(a), col(b),
        expr("aggregate(zip_with(qa_a, qa_b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("dot"),
        col("n2_a"), col("n2_b"))
      .select(col(a), col(b),
        (col("dot").cast("double") / (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double")))).as("cos"))
  }

  /** Top-k tail shared by every top-k path: rank (qvec, vec, cos) rows per
    * query by cos desc, vec asc → (qvec, rank, vec, cos). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qvec")).orderBy(col("cos").desc, col("vec").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qvec"), col("rank"), col("vec"), col("cos"))
  }

  /** Exact top-k neighbors of the query vectors (vec_id % 250 == 0),
    * excluding self. Output: (qvec, rank, vec, cos). */
  def bruteTopK(emb: DataFrame, k: Int = TopK): DataFrame = {
    val q = quantized(emb).cache()
    val n = norms(q)
    val queries = q.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qvec"), col("pos"), col("q").as("qq"))
    val dots = queries.join(q, "pos")
      .groupBy(col("qvec"), col("vec_id").as("vec"))
      .agg(sum(col("qq") * col("q")).as("dot"))
      .filter(col("qvec") =!= col("vec"))
    val scored = dots
      .join(n.select(col("vec_id").as("qvec"), col("n2").as("qn")), "qvec")
      .join(n.select(col("vec_id").as("vec"), col("n2").as("vn")), "vec")
      .select(col("qvec"), col("vec"),
        (col("dot").cast("double") / (sqrt(col("qn").cast("double")) * sqrt(col("vn").cast("double")))).as("cos"))
    topK(scored, k)
  }

  /** Sign-random-projection bucket id: sign bits of dot products with
    * deterministic ±1 hyperplanes. The sign for (table, hyperplane b, pos) is
    * a mid bit of a Knuth multiplicative hash — a LINEAR parity like
    * (pos·197 + b·131) % 2 degenerates to one hyperplane repeated up to sign
    * (all odd multipliers preserve parity), which this must avoid. */
  def srpBuckets(emb: DataFrame, nBits: Int = 8, tableSeed: Int = 0): DataFrame =
    // FUSED ([[graft.functions.GraftAnn.srpBucket]]): the posexplode →
    // nBits-sum aggregate → sign recombination collapses to one per-row
    // array pass — no generator, no exchange, bit-identical bucket ids
    // (same Knuth-hash hyperplane signs; integer sums commute)
    quantizedArr(emb).select(col("vec_id"),
      graft.functions.SrpBucket.srpBucket(col("qa"), nBits, tableSeed).as("bucket"))

  /** Multi-table SRP ANN (the production scale path): candidates = vectors
    * sharing a bucket in ANY of `tables` hyperplane families (classic
    * multi-table LSH recall amplification), exact quantized-cosine rerank,
    * top-k per query. Only intra-bucket pairs are ever scored.
    *
    * Knobs trade candidate count vs recall: each bit halves (roughly) the
    * bucket population; each table multiplies recall. Measured on the
    * synthetic embeddings (weakly clustered, neighbor cos ≈ 0.4):
    * (2 bits, 12 tables) → recall@5 = 0.95; (4, 8) → 0.50. Tightly-clustered
    * real text embeddings support more bits at the same recall. */
  def srpTopK(emb: DataFrame, nBits: Int = 4, tables: Int = 8): DataFrame = {
    val cand = (0 until tables).map { t =>
      val b = srpBuckets(emb, nBits, t)
      val left = b.filter(col("vec_id") % QueryMod === 0)
        .select(col("bucket"), col("vec_id").as("qvec"))
      val right = b.select(col("bucket"), col("vec_id").as("vec"))
      left.join(right, "bucket").filter(col("qvec") =!= col("vec"))
        .select("qvec", "vec")
    }.reduce(_ unionByName _).distinct()
    topK(rerank(cand, emb, "qvec", "vec"), TopK)
  }

  /** Pack a (cid, pos, cq) centroid table — the one format every training
    * function returns — into one (cid, ca) row per centroid, `ca` the
    * components in pos order. PRECONDITION: dense centroids (one cq per pos
    * of the embedding), which every M-step mean and seed satisfies. */
  private def packed(centroids: DataFrame): DataFrame =
    centroids.groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cq")))).as("cs"))
      .select(col("cid"), expr("transform(cs, s -> s.cq)").as("ca"))

  /** The fixed coarse quantizer, packed: the `vec_id % CentroidMod == 7`
    * vectors as (cid, ca), their quantized components as doubles. */
  private def idSubset(emb: DataFrame): DataFrame =
    quantizedArr(emb).filter(col("vec_id") % CentroidMod === 7)
      .select(col("vec_id").as("cid"), expr("transform(qa, x -> CAST(x AS DOUBLE))").as("ca"))

  /** THE centroid scorer: every vector's [[quantizedArr]] row against every
    * packed centroid (cid, ca), → (vec_id, cid, score) with score = dot/√|c|²
    * (|v| is common to a vector's rows, so the argmax score is the argmax
    * cosine). The centroid table gains `cn2` and is BROADCAST (C ≪ N), so
    * the vector side never shuffles; the dot is the same
    * `zip_with`/`aggregate` as [[rerank]], summed in pos order.
    *
    * Exactness: for the id-subset quantizer the components are integers with
    * |q| ≤ 577 on the test data, so every partial sum of the dot (≤ 64·577²)
    * and of cn2 is an integer far below 2^53 — the double sums equal the
    * BIGINT long-form sums bit for bit, in any order, and the score is the
    * oracle's `CAST(dot AS DOUBLE) / sqrt(CAST(cn2 AS DOUBLE))`. For trained
    * (fractional) centroids the fixed pos order keeps scores independent of
    * partitioning. Same PRECONDITION as [[rerank]]: equal-length, null-free
    * arrays. */
  private def centroidScores(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cid"), col("ca"),
      expr("aggregate(ca, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)").as("cn2"))
    quantizedArr(emb).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (expr("aggregate(zip_with(qa, ca, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") /
          sqrt(col("cn2"))).as("score"))
  }

  /** Each vector's best centroid, (vec_id, cid): argmax score, ties to the
    * lowest cid — one partial-aggregating `min(struct(−score, cid))`. */
  private def argmax(scores: DataFrame): DataFrame =
    scores.groupBy(col("vec_id"))
      .agg(min(struct((-col("score")).as("ns"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))

  /** Each vector's `n` best centroids, (vec_id, cid), in the [[argmax]]
    * order (score desc, cid asc) — the probe lists and multi-assignment. */
  private def nearest(scores: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("cid").asc)
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
      .select(col("vec_id"), col("cid"))
  }

  /** IVF candidate (qvec, vec) pairs against a packed centroid table: each
    * vector indexed under its best list ([[argmax]]) or its `nAssign` best,
    * each query probing its `nProbe` nearest lists. */
  private def ivfCandidates(emb: DataFrame, cents: DataFrame, nProbe: Int,
      nAssign: Int): DataFrame = {
    val scores = centroidScores(emb, cents)
    val assign = if (nAssign <= 1) argmax(scores) else nearest(scores, nAssign)
    val probes = nearest(scores.filter(col("vec_id") % QueryMod === 0), nProbe)
      .select(col("vec_id").as("qvec"), col("cid"))
    probes.join(assign, "cid")
      .filter(col("qvec") =!= col("vec_id"))
      .select(col("qvec"), col("vec_id").as("vec")).distinct()
  }

  /** IVF (inverted-file) ANN — the cluster-pruned COMPARISON BASELINE beside
    * the hash-pruned SRP tables: a deterministic coarse quantizer (every
    * 50th vector stands in for a trained centroid set), each vector
    * assigned to its best centroid's list (argmax cos), queries probe the
    * `nProbe` nearest lists and exact-rerank only those candidates — the
    * [[ivfTopKWith]] path over the id-subset centroids.
    *
    * PRODUCTION-PATH VERDICT (round-4 sweep + round-5 bounded retune,
    * recorded in AnnSpec): the round-4 grid
    * (C ≤ 40) topped out at recall@5 = 0.525 at a 10 % scan; the round-5
    * levers — finer quantization and SOAR-style multi-assignment
    * (`nAssign`) — clear the bar: C = 80 (≈25 vecs/list, kmeans++ +
    * 3 Lloyd rounds), nProbe = 8 reaches recall@5 = 0.600 at a MEASURED
    * 9.9 % scanned fraction, and nAssign = 2 extends the curve to
    * 0.725 at 19 %. Multi-table SRP ([[srpTopK]], recall 0.95 at
    * comparable budget) remains the engine's production ANN path on these
    * weakly-clustered synthetic embeddings (neighbor cos ≈ 0.4); IVF is a
    * bar-meeting baseline a tightly-clustered real corpus would
    * re-promote.
    *
    * Scale shape: assignment is O(N·C·d) map work against a BROADCAST
    * centroid table (C ≪ N); the probe→candidate join shuffles on the list
    * id (lists ≈ N/C vectors); rerank cost is nProbe/C of brute force. */
  def ivfTopK(emb: DataFrame): DataFrame =
    topK(rerank(ivfCandidates(emb, idSubset(emb), NProbe, NAssign), emb, "qvec", "vec"), TopK)

  /** One Lloyd round's E-step + M-step against a packed centroid table:
    * argmax assignment off [[centroidScores]], then per-(cluster, dim) EXACT
    * BIGINT component sums + member counts (cid, pos, sum_q, n_members) —
    * quantized sums are order-insensitive where float means are not. Two
    * bounded shuffles (the argmax aggregate, the (cluster, dim) aggregate)
    * plus the assignment attach; no iteration inside the plan. */
  private def lloydSums(emb: DataFrame, cents: DataFrame): DataFrame = {
    val assign = argmax(centroidScores(emb, cents))
    quantized(emb).join(assign.hint("shuffle_hash"), "vec_id")
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n_members"))
  }

  /** Float centroids (cid, pos, cq) off [[lloydSums]]: component means. */
  private def means(sums: DataFrame): DataFrame =
    sums.select(col("cid"), col("pos"),
      (col("sum_q").cast("double") / col("n_members").cast("double")).as("cq"))

  /** One distributed Lloyd (k-means) iteration over the quantized embeddings
    * (q80) — the clustering step every IVF/embedding-curation pipeline
    * re-runs at scale — against the deterministic coarse centroid subset
    * (`vec_id % 50 == 7`, the same quantizer [[ivfTopK]] probes). Output:
    * the exact (cid, pos, sum_q, n_members) M-step sums; the caller divides
    * when a float centroid is wanted ([[trainedCentroids]]). */
  def kmeansStep(emb: DataFrame): DataFrame = lloydSums(emb, idSubset(emb))

  /** Float centroids from one [[kmeansStep]]: component mean per
    * (cluster, dim). The trained table plugs straight into [[ivfTopKWith]]
    * or seeds [[kmeansIterateFrom]]. */
  def trainedCentroids(emb: DataFrame): DataFrame = means(kmeansStep(emb))

  /** One Lloyd round against an ARBITRARY (cid, pos, cq) centroid table:
    * the same E-step and M-step as [[kmeansStep]], returning the means. */
  def kmeansStepWith(emb: DataFrame, centroids: DataFrame): DataFrame =
    means(lloydSums(emb, packed(centroids)))

  /** Deterministic kmeans++-style seeding: farthest-first traversal in
    * cosine distance over the collected [[quantizedArr]] vectors (at
    * 100 TB a bounded sample — seeding state is C·d either way, the
    * canonical small-state driver step). Replaces the id-subset quantizer
    * (`vec_id % 50 == 7`) whose centroids were just arbitrary corpus
    * vectors: farthest-first spreads the seeds across the direction space,
    * which is exactly what the weakly-clustered synthetic embeddings punish
    * the id-subset for. Start = lowest vec_id; every tie breaks to the
    * lowest index — fully deterministic, no RNG. */
  def seedCentroidsPP(emb: DataFrame, c: Int = 40): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs: Array[(Long, Array[Double])] = quantizedArr(emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val units = vecs.map { case (_, v) =>
      val n = math.sqrt(dot(v, v)); v.map(_ / n)
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Int](0)
    val taken = Array.fill(units.length)(false); taken(0) = true
    val minDist = Array.fill(units.length)(Double.MaxValue)
    while (chosen.size < math.min(c, units.length)) {
      val last = units(chosen.last)
      var bestI = -1; var bestD = -1.0
      var i = 0
      while (i < units.length) {
        val d = 1.0 - dot(units(i), last)
        if (d < minDist(i)) minDist(i) = d
        if (!taken(i) && minDist(i) > bestD) { bestD = minDist(i); bestI = i }
        i += 1
      }
      chosen += bestI; taken(bestI) = true
    }
    chosen.zipWithIndex.flatMap { case (idx, cid) =>
      vecs(idx)._2.zipWithIndex.map { case (qv, pos) => (cid.toLong, pos, qv) }
    }.toSeq.toDF("cid", "pos", "cq")
  }

  /** The Lloyd driver — the production IVF training loop: `rounds` rounds of
    * [[kmeansStepWith]] from an initial centroid table (kmeans++ seeds from
    * [[seedCentroidsPP]], or [[trainedCentroids]]). Round state is the
    * centroid table only (~C·d rows): each round it is collected,
    * re-localized and re-broadcast — the canonical Spark
    * iterate-with-small-state shape (lineage stays one round deep; the big
    * embedding table is scanned once per round, never iterated over on the
    * driver). Returns (cid, pos, cq). */
  def kmeansIterateFrom(emb: DataFrame, init: DataFrame, rounds: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    (1 to rounds).foldLeft(init) { (cents, _) =>
      val local = cents.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      kmeansStepWith(emb, local.toDF("cid", "pos", "cq"))
    }
  }

  /** Candidate (qvec, vec) pairs an IVF probe reranks, against an arbitrary
    * (cid, pos, cq) centroid table — the first half of [[ivfTopKWith]],
    * exposed standalone so a caller can measure the ACTUAL scanned fraction:
    * probed lists are population-skewed after Lloyd rounds, so the nominal
    * nProbe/C badly under- or over-states the real rerank cost.
    *
    * `nAssign` > 1 indexes each vector under its `nAssign` best lists
    * (multi-assignment / spilled lists, the SOAR-family recall lever):
    * the index grows nAssign×, queries keep probing nProbe lists, and a
    * true neighbor straddling a Voronoi boundary is findable from either
    * side. The scanned fraction is still MEASURED (candidates are distinct
    * pairs), so the recall-at-cost comparison stays honest. */
  def ivfCandidatesWith(emb: DataFrame, centroids: DataFrame, nProbe: Int = NProbe,
      nAssign: Int = NAssign): DataFrame =
    ivfCandidates(emb, packed(centroids), nProbe, nAssign)

  /** IVF top-k against an ARBITRARY (cid, pos, cq) centroid table — the
    * general form of [[ivfTopK]] (whose id-subset quantizer is the
    * oracle-checked instance): broadcast centroids, one assignment
    * aggregate, list-id shuffle, exact rerank of probed lists only. */
  def ivfTopKWith(emb: DataFrame, centroids: DataFrame, nProbe: Int = NProbe,
      nAssign: Int = NAssign): DataFrame =
    topK(rerank(ivfCandidatesWith(emb, centroids, nProbe, nAssign), emb, "qvec", "vec"), TopK)

  /** Adaptive SRP bit count: the smallest b with 2^b ≥ ceil(n/targetBucket),
    * clamped to [2, 16] — so expected bucket population stays ≈ targetBucket
    * as the corpus grows and intra-bucket pair work stays ~n·targetBucket
    * (LINEAR in n) instead of the O(n²/2^bits) a fixed bit count degrades to.
    * Mirrored in the oracle from the same count via length(bin(m−1)). */
  def adaptiveBits(n: Long, targetBucket: Int): Int = {
    val m = (n + targetBucket - 1) / targetBucket
    if (m <= 1) 2
    else math.max(2, math.min(16, 64 - java.lang.Long.numberOfLeadingZeros(m - 1)))
  }

  /** Candidate near-duplicate pairs: union over [[NearDupTables]] independent SRP
    * hyperplane families of CAPPED intra-bucket pairs, with the bit count
    * chosen from the corpus size ([[adaptiveBits]]).
    *
    * Two mechanisms bound the work:
    *  - adaptive bits keep EXPECTED bucket population ≈ [[NearDupBucket]], but
    *    co-directional clusters share every SRP sign and cannot be split by
    *    more hyperplanes;
    *  - so within each bucket every vector pairs only with its next [[NearDupCap]]
    *    neighbors in a per-table hash order — pair count ≤ tables·cap·n,
    *    STRICTLY linear, as an equi-join on (bucket, rank+k) (no m² blowup
    *    even transiently). Each table uses a different order, so a pair
    *    missed in one table's window is recovered by another (measured in
    *    AnnSpec); only degenerate mega-clusters lose recall, and those are
    *    exact-dup territory anyway. */
  def nearDupCandidates(emb: DataFrame, nDocs: Long = -1L): DataFrame = {
    val nBits = adaptiveBits(if (nDocs >= 0) nDocs else emb.count(), NearDupBucket)
    (0 until NearDupTables).map { t =>
      // vec_id tie-break: two vectors colliding mod 1e9+7 in one bucket must
      // rank deterministically (and identically to the SQL oracle)
      val w = Window.partitionBy(col("bucket"))
        .orderBy(((col("vec_id") + lit(t * 7919)) * lit(2654435761L)) % lit(1000000007L),
          col("vec_id"))
      val r = srpBuckets(emb, nBits, t).withColumn("rn", row_number().over(w))
      val probe = r.withColumn("k", explode(sequence(lit(1), lit(NearDupCap))))
        .select(col("bucket"), col("vec_id").as("ia"), (col("rn") + col("k")).as("rn"))
      probe.join(r.select(col("bucket"), col("vec_id").as("ib"), col("rn")), Seq("bucket", "rn"))
        .select(least(col("ia"), col("ib")).as("va"), greatest(col("ia"), col("ib")).as("vb"))
    }.reduce(_ unionByName _).distinct()
  }

  /** Scored-pairs artifact location: keyed by the sf dir name, the corpus
    * size and a logic version, so a stale artifact from an older code
    * revision or another scale can never satisfy a read. It lies in the
    * running application's temp dir (Spark deletes it at exit): q49 → q94
    * share it within one application, and two JVMs never race on one path. */
  def nearDupPairsArtifactPath(sfDir: String, n: Long): String =
    s"${org.apache.spark.SparkFiles.getRootDirectory()}/neardup_pairs_v1_${new java.io.File(sfDir).getName}_$n"

  /** Compute the near-dup scored pairs ONCE and persist them (the
    * `dedupArtifacts` pattern): the production pipeline materializes the
    * candidate+cosine table as an artifact and every report reads it. The
    * builder (q49) returns the READ-BACK of what it wrote, so its measured
    * cost is the honest end-to-end build; sibling reports (q94) call
    * [[readNearDupPairs]] and pay only the artifact scan.
    *
    * Publish is ATOMIC: the pairs land in a staging directory and move into
    * the live path with one rename, so a crash mid-write can never leave a
    * torn artifact a later reader would trust ([[readNearDupPairs]] also
    * requires the committer's _SUCCESS marker). */
  def writeNearDupPairs(emb: DataFrame, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val n = emb.count()
    val path = nearDupPairsArtifactPath(sfDir, n)
    val staging = path + ".staging"
    nearDupPairsN(emb, n).write.mode("overwrite").parquet(staging)
    val live = Paths.get(path)
    // delete-then-rename: a crash between the two leaves NO live dir, and
    // the reader falls back to the inline chain
    graft.pipeline.Snapshots.deleteRecursively(live)
    Files.move(Paths.get(staging), live, StandardCopyOption.ATOMIC_MOVE)
    emb.sparkSession.read.parquet(path)
  }

  /** Read the persisted pairs artifact; falls back to the inline chain when
    * no COMMITTED artifact exists (standalone report run, or a torn write —
    * the _SUCCESS marker gates trust). */
  def readNearDupPairs(emb: DataFrame, sfDir: String): DataFrame = {
    val n = emb.count()
    val path = nearDupPairsArtifactPath(sfDir, n)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
      emb.sparkSession.read.parquet(path)
    else nearDupPairsN(emb, n)
  }

  /** Embedding-cosine near-dup pairs (q49 scale path): adaptive multi-table
    * SRP candidates, then the exact quantized-cosine rerank. Replaces the
    * round-1 fixed-8-bit single-table form whose intra-bucket pair count grew
    * O(n²/256). */
  def nearDupPairs(emb: DataFrame): DataFrame = nearDupPairsN(emb, -1L)

  /** [[nearDupPairs]] with the corpus count supplied by a caller that
    * already paid for it (the artifact helpers) — avoids a second full
    * count job per invocation. */
  private def nearDupPairsN(emb: DataFrame, nDocs: Long): DataFrame =
    rerank(nearDupCandidates(emb, nDocs), emb, "va", "vb")
}
