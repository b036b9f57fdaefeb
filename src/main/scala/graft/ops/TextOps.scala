package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table — the ops a
  * 100 TB web-text corpus needs: exact + near dedup (MinHash/LSH, SimHash,
  * n-gram Jaccard), language-ID, quality scoring, token counting, document
  * fingerprinting. All built from codegen'd built-ins (md5/substring/length/
  * replace + conditional aggregation) — no UDFs — and every hash is md5-based
  * so the DuckDB oracle reproduces values exactly.
  *
  * Scale notes: shingling explodes ~L/1 rows per doc (bounded by
  * [[MaxShingleChars]]); the minhash reduce is a partial-aggregating groupBy
  * on doc_id (map-side combine collapses to numHashes rows per doc before
  * shuffle). LSH banding shuffles on (band, bandkey) — the classic
  * bucket-join; bucket skew (boilerplate pages) is bounded because bandkey
  * includes 4 concatenated 128-bit minima.
  */
object TextOps {

  val ShingleLen = 8
  val MaxShingleChars = 512
  val NumHashes = 16
  val NumBands = 4 // 4 rows/band
  private val BandKeys = Seq("band", "k0", "k1", "k2", "k3") // LSH bucket key
  private val LeakJaccard = 0.5 // fuzzyDecontaminate's leak flag
  private val ContaminatedFrac = 0.2 // decontaminate's overlap flag
  private val HeavyDupFrac = 0.5 // dupSpanProfile's heavy-dup verdict
  private val KmvK = 64 // kmvDistinct's sketch size k

  /** The near-dup cut of curation, incremental dedup, dup components and ingest. */
  val NearDupJaccard = 0.9

  /** The docs at least one shingle long: every shingle-kernel call reads
    * through this filter, the kernels' precondition for matching the
    * oracle's SQL chain ([[graft.functions.GraftMd5]]). */
  private def shingleable(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= ShingleLen)

  /** (doc_id, hb): 60-bit hashes of all char [[ShingleLen]]-grams of the
    * first [[MaxShingleChars]] chars, in position order (multiset — repeats
    * kept; [[shingleHashes]] is the distinct form). Docs shorter than one
    * shingle are dropped. Values = the md5-prefix chain the oracles mirror,
    * computed by the [[graft.functions.GraftMd5]] kernel. */
  def shingles(docs: DataFrame): DataFrame =
    shingleable(docs)
      .select(col("doc_id"), explode(graft.functions.Shingles60.shingles60(col("text"))).as("hb"))

  /** The exploded DISTINCT (doc_id, hb) 60-bit shingle-hash table — the
    * input of the per-hash aggregates (fingerprint k-min, document
    * frequency, decontamination overlap, span profiles). Candidate-pair
    * scorers do not read it: they attach per-doc arrays instead
    * ([[shingleArrays]]), and MinHash is the fused [[minhashWide]] map.
    *
    * Deliberately NOT cached: it is corpus-sized (~675M rows at the ×256
    * bench leg), and caching it crosses the storage-memory threshold
    * somewhere between ×64 and ×256 — from there every consumer pays
    * eviction/recompute thrash against its own execution memory. It is a
    * pure map off the parquet scan (array_distinct inside the generator),
    * so recomputing a scan is linear compute with zero memory footprint.
    *
    * PRECONDITION: `doc_id` is unique in `docs` (the documents table's
    * primary key — the per-doc array_distinct then yields globally distinct
    * (doc_id, hb) pairs with no shuffle). A corpus with repeated doc_id rows
    * would inflate set sizes downstream; ingest paths that can see
    * re-crawled ids must dedup by id first (CorpusStream does; see also
    * [[exactDupGroups]] for content-level dups, which are FINE — distinct
    * ids with equal text are the workload, not a violation). */
  def shingleHashes(docs: DataFrame): DataFrame = distinctShingles(docs, "doc_id")

  /** (key, hb): each row's first-occurrence-distinct shingle hashes,
    * exploded next to the row's `key` column. */
  private def distinctShingles(docs: DataFrame, key: String): DataFrame =
    shingleable(docs)
      .select(col(key),
        // per-doc distinct INSIDE the generator, not a global .distinct():
        // every duplicate (doc_id, hb) pair comes from within one source row
        // (doc_id is the corpus key), so the classic shuffle-distinct moves
        // the entire shingle table (359M rows at the ×256 bench leg) through
        // an exchange + two-phase hash aggregate to deduplicate rows that
        // were already co-located — measured as THE dominant cost of the
        // whole dedup family one order up. The hash itself is the
        // [[graft.functions.GraftMd5]] kernel — bit-identical to the old
        // conv(substring(md5(substring(text,i,8)),1,15),16,10) chain (the
        // form the oracles mirror) at ~10× less per-shingle cost: linear
        // byte-window walk instead of per-position codepoint re-scans, one
        // allocation-free single-block MD5 per gram instead of a digest
        // object + 32-char hex string + string→decimal conv parse.
        explode(graft.functions.Shingles60.shingles60Distinct(col("text"))).as("hb"))

  /** Wide MinHash signature: (doc_id, m0..m15) with
    * m_k = min over shingles of (hb·(17+4099·k) + 31+7907·k) mod P — the
    * classic one-base-hash + universal-permutation family, computed as 16
    * aggregate expressions in ONE pass over the shingles (no seed explode —
    * 16× fewer aggregated rows, one shuffle for the whole signature).
    * Numeric minima keep the aggregation in HashAggregate with map-side
    * combine (min over md5 *strings* degrades to SortAggregate — measured
    * 50× slower), and md5 runs once per shingle. */
  def minhashWide(docs: DataFrame): DataFrame = {
    // FUSED per-doc signature ([[graft.functions.GraftMd5.minhash16]]): the
    // whole minhash is a pure map off the scan — no shingle generator, no
    // corpus-×-grams rows through a 16-expression hash aggregate. Identical
    // values (minima are multiset-invariant; the kernel reuses the same
    // 60-bit gram hashes and permutation constants).
    val mh = shingleable(docs)
      .select(col("doc_id"),
        graft.functions.Minhash16.minhash16(col("text")).as("mh"))
    mh.select(col("doc_id") +:
      (0 until NumHashes).map(k => col("mh").getItem(k).as(s"m$k")): _*)
  }

  /** Long form (doc_id, seed, minh) — unpivot of the wide signature. */
  def minhashLong(docs: DataFrame): DataFrame = {
    val stackArgs = (0 until NumHashes).flatMap(k => Seq(s"$k", s"m$k")).mkString(", ")
    minhashWide(docs)
      .select(col("doc_id"),
        expr(s"stack(${NumHashes}, $stackArgs) AS (seed, minh)"))
      .select(col("doc_id"), col("seed").cast("int").as("seed"), col("minh"))
  }

  /** LSH bands: (doc_id, band, k0..k3) — unpivot of the wide signature into
    * one row per band with the 4 per-seed minima as BIGINT key columns. */
  def lshBands(docs: DataFrame): DataFrame =
    bandsOf(minhashWide(docs))

  /** Bands from an already-computed wide signature (shared-table path). */
  private[graft] def bandsOf(wide: DataFrame): DataFrame = {
    val rowsPerBand = NumHashes / NumBands
    val stackArgs = (0 until NumBands).flatMap(b =>
      s"$b" +: (0 until rowsPerBand).map(j => s"m${b * rowsPerBand + j}")).mkString(", ")
    wide
      .select(col("doc_id"),
        expr(s"stack($NumBands, $stackArgs) AS (band, k0, k1, k2, k3)"))
      .withColumn("band", col("band").cast("int"))
  }

  /** Candidate near-duplicate pairs: docs sharing any full band — the classic
    * LSH bucket self-join, shuffling on the (band, k0..k3) bucket key. */
  def lshPairs(docs: DataFrame): DataFrame =
    pairsOf(lshBands(docs))

  private def pairsOf(bands: DataFrame): DataFrame = {
    // cache the band table explicitly: both sides of the bucket self-join
    // read it, and an explicit cache beats relying on AQE ReusedExchange to
    // dedupe the minhash computation (reuse is plan-shape-fragile)
    val cached = bands.cache()
    val a = cached.withColumnRenamed("doc_id", "doc_a")
    val c = cached.withColumnRenamed("doc_id", "doc_b")
    a.join(c, BandKeys)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact n-gram Jaccard for the LSH candidate pairs (verification stage of
    * the dedup pipeline): |A∩B| / |A∪B| over distinct shingle sets.
    * Candidates come from the fused minhash map (no shingle explode on the
    * banding side); the verify is [[pairIntersect]] over per-doc arrays. */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    val arr = shingleArrays(docs)
    jaccardOf(pairIntersect(pairsOf(lshBands(docs)), arr, arr))
  }

  /** (doc_id, arr): each doc's first-occurrence-distinct 60-bit shingle
    * hashes as one array — the per-doc form candidate-pair scorers attach.
    * Same filter, values and doc_id-uniqueness precondition as
    * [[shingleHashes]] (`size(arr)` is the doc's distinct-shingle count),
    * with no generator. */
  private def shingleArrays(docs: DataFrame): DataFrame =
    shingleable(docs)
      .select(col("doc_id"), graft.functions.Shingles60.shingles60Distinct(col("text")).as("arr"))

  /** The ONE pair-intersection chain of the dedup family: candidate pairs
    * (doc_a, doc_b) → (doc_a, doc_b, i, sz_a, sz_b) with i = |A∩B| over
    * distinct shingle sets, from `arrA`/`arrB` ((doc_id, arr) tables of
    * the a and b sides; pass the same table twice for a self-join).
    *
    * Each side is cut to pair participants by a left_semi join on bare ids
    * and cached — bounded by dup DENSITY, not corpus size; a self-join
    * (the same table on both sides) caches its participants once.
    * Two narrow doc-id joins then attach each side's array and the
    * [[graft.functions.IntersectCountKernel]] probe counts |A∩B| per pair
    * row: no pair×shingles intermediate and no (doc_a, doc_b) aggregate,
    * and a pair with no shared shingle reads i = 0.
    *
    * shuffle_hash on the pair chain: Catalyst's ESTIMATES for the
    * kernel-derived array table are scan-based guesses and both sides are
    * dup-density-bounded (a re-crawl storm can inflate them corpus-scale),
    * so a statically-chosen broadcast is the 8 GB-cliff/OOM risk the r3
    * bench actually hit; the hint pins a shuffled hash join with the narrow
    * pair rows as build side (AQE keeps the hinted join, and still
    * coalesces and skew-splits its partitions; PlanSpec gates this shape). */
  private def pairIntersect(pairs0: DataFrame, arrA: DataFrame, arrB: DataFrame): DataFrame = {
    val pairs = pairs0.cache()
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    def cut(arr: DataFrame): DataFrame = arr.join(ids, Seq("doc_id"), "left_semi").cache()
    val a = cut(arrA)
    val b = if (arrB eq arrA) a else cut(arrB)
    pairs
      .hint("shuffle_hash").join(a.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")), "doc_a")
      .hint("shuffle_hash").join(b.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.IntersectCount.intersectCount(col("arr_a"), col("arr_b")).as("i"),
        size(col("arr_a")).cast("long").as("sz_a"), size(col("arr_b")).cast("long").as("sz_b"))
  }

  /** (doc_a, doc_b, jaccard) from [[pairIntersect]] rows. */
  private def jaccardOf(inter: DataFrame): DataFrame =
    inter.select(col("doc_a"), col("doc_b"),
      (col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i")).cast("double")).as("jaccard"))

  /** 16-bit SimHash from the md5 of each shingle: bit k of the fingerprint is
    * the majority vote of hex-digit bit k across shingles. */
  def simhash16(docs: DataFrame): DataFrame = {
    // the 60-bit kernel value is the first 15 hex digits of the md5, so hex
    // char j (0-based) has value (hb >> 4·(14−j)) & 15 — the first 4 hex
    // digits this op votes on are bits 59..44. NON-distinct multiset
    // (multiplicity is the vote weight), same values as the old per-shingle
    // md5-hex derivation.
    val withHash = shingles(docs)
    // hex digit d_k = value of hex char k/4; bit = (d >> (3 - k%4)) & 1
    val bitSums = (0 until 16).map { k =>
      val bit = shiftright(col("hb"), 4 * (14 - k / 4) + (3 - k % 4)) % 2
      sum(bit * 2 - 1).as(s"s$k")
    }
    val sums = withHash.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 16).map(k =>
      when(col(s"s$k") > 0, lit(1L << k)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), fp.as("simhash"))
  }

  /** Exact duplicate groups by content hash (n > 1 only). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n") > 1)

  /** The exact-content dup star: (keeper, doc_id) for every doc whose text
    * an earlier doc repeats, keeper = the min doc_id of its content-hash
    * group — a star per group, which is enough for connectivity. */
  private[ops] def exactDupStar(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .join(docs.select(col("doc_id"), md5(col("text")).as("h")), "h")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("keeper"), col("doc_id"))

  /** End-to-end corpus curation — the composed training-data pipeline:
    * 1. quality gate (keep == 1),
    * 2. exact dedup: only the min doc_id of each content-hash group survives,
    * 3. near-dup removal: for every LSH-candidate pair with n-gram Jaccard ≥
    *    [[NearDupJaccard]], the higher doc_id is dropped.
    * Returns the surviving doc ids with their quality features. */
  def curate(docs: DataFrame): DataFrame = {
    val q = quality(docs).filter(col("keep") === 1)
    val dupLosers = exactDupStar(docs).select(col("doc_id"))
    val nearLosers = ngramJaccard(docs)
      .filter(col("jaccard") >= NearDupJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    q.join(dupLosers, Seq("doc_id"), "left_anti")
      .join(nearLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"), col("stop_ratio"))
  }

  /** Dup-cluster size distribution (q93) — the dedup report every curation
    * run prints (C4/RefinedWeb style): how many exact-content clusters exist
    * at each size, how many documents they hold, and how many a
    * keep-one-per-cluster pass removes. Two partial-aggregating groupBys
    * (content hash → cluster size → histogram); the second input is one row
    * per distinct content — already corpus-shrunk. */
  def dupClusterStats(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removed"))

  /** Incremental near-dup check (q83) — the PRODUCTION dedup shape: a new
    * crawl batch (doc_id ≥ `idSplit`) is LSH-checked AGAINST the existing
    * corpus only. Batch bands join base bands (no batch×batch or base×base
    * pairs ever materialize), candidates get the exact n-gram Jaccard
    * verify, and each new doc reports its best base match + a dup verdict.
    * At scale the base's band table is a precomputed artifact — the batch
    * never triggers a corpus-wide re-LSH, and the bucket join only shuffles
    * the (small) batch side against the base's existing band partitioning. */
  def incrementalDedup(docs: DataFrame, idSplit: Long = graft.synth.Synth.BaseDocs): DataFrame = {
    val (arr, bands) = dedupArtifacts(docs)
    incrementalDedupAgainst(
      arr.filter(col("doc_id") < idSplit), bands.filter(col("doc_id") < idSplit),
      arr.filter(col("doc_id") >= idSplit), bands.filter(col("doc_id") >= idSplit),
      NearDupJaccard)
  }

  /** The two PERSISTED artifacts a production incremental-dedup service keeps
    * per corpus snapshot: the per-doc distinct shingle-array table
    * (doc_id, arr) and the LSH band table. Write them once (e.g. via
    * `Snapshots`), feed them to [[incrementalDedupAgainst]] for every
    * arriving batch. */
  def dedupArtifacts(docs: DataFrame): (DataFrame, DataFrame) =
    (shingleArrays(docs), lshBands(docs))

  /** Incremental dedup of a batch against PRECOMPUTED base artifacts —
    * nothing on the base side is recomputed; only the batch is shingled and
    * banded. Candidate pairs are base-band ⋈ batch-band; the exact Jaccard
    * verify is [[pairIntersect]] over each side's own array table, which
    * cuts both tables to the docs that appear in a pair before any verify
    * join (measured at the ×256 bench leg before that cut: 180 s shuffling
    * 359M shingle rows against 286 pairs). */
  def incrementalDedupAgainst(baseArr: DataFrame, baseBands: DataFrame,
      batchArr: DataFrame, batchBands: DataFrame, jaccardMax: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = baseBands.withColumnRenamed("doc_id", "doc_a")
    val batch = batchBands.withColumnRenamed("doc_id", "doc_b")
    val pairs = base.join(batch, BandKeys).select("doc_a", "doc_b").distinct()
    val jac = jaccardOf(pairIntersect(pairs, baseArr, batchArr))
    val w = Window.partitionBy(col("doc_b")).orderBy(col("jaccard").desc, col("doc_a").asc)
    jac.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("match_doc"), col("jaccard"),
        (col("jaccard") >= jaccardMax).cast("int").as("is_dup"))
  }

  // ---- text analysis ----

  /** Occurrences of `marker` in ' '+text+' ' via the replace-length trick
    * (left-to-right non-overlapping — identical in JVM and DuckDB). */
  def markerCount(text: Column, marker: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    ((length(padded) - length(replace(padded, lit(marker), lit("")))) / marker.length).cast("int")
  }

  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> " scan ", "es" -> " join ", "de" -> " sort ",
    "fr" -> " hash ", "zh" -> " batch ")

  /** Heuristic language-ID: argmax of marker-word counts, ties broken by
    * marker order (the fixed CASE ladder). */
  def langId(docs: DataFrame): DataFrame = {
    val counted = LangMarkers.foldLeft(docs.select(col("doc_id"), col("text"), col("lang"))) {
      case (df, (l, m)) => df.withColumn(s"c_$l", markerCount(col("text"), m))
    }
    val langs = LangMarkers.map(_._1)
    // CASE c_en >= all others THEN en, else c_es >= remaining ...
    def ladder(remaining: List[String]): Column = remaining match {
      case l :: Nil => lit(l)
      case l :: rest =>
        val ge = rest.map(r => col(s"c_$l") >= col(s"c_$r")).reduce(_ && _)
        when(ge, lit(l)).otherwise(ladder(rest))
      case Nil => lit(null)
    }
    counted.select((Seq(col("doc_id"), col("lang"), ladder(langs.toList).as("lang_pred")) ++
      langs.map(l => col(s"c_$l"))): _*)
  }

  /** Whitespace tokens: one more than the text's spaces. */
  private def nTokens: Column =
    (length(col("text")) - length(replace(col("text"), lit(" "), lit("")))).cast("int") + 1

  /** Quality-score features: token count, char count, mean word length,
    * stopword-marker ratio, and a composite keep/drop flag. */
  def quality(docs: DataFrame): DataFrame = {
    val nChars = length(col("text"))
    val alnum = length(replace(col("text"), lit(" "), lit("")))
    docs.select(col("doc_id"), nChars.as("n_chars_m"), nTokens.as("n_tokens"),
      (alnum.cast("double") / nTokens.cast("double")).as("mean_word_len"),
      (markerCount(col("text"), " the ").cast("double") / nTokens.cast("double")).as("stop_ratio"))
      .withColumn("keep",
        (col("n_tokens") >= 16 && col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0).cast("int"))
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (word pieces | digit runs | single punctuation — the shape of GPT-2's
    * pre-tokenizer, simplified to an RE2/Java-regex-portable pattern). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val bpeish = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"
    docs.select(col("doc_id"), nTokens.as("ws_tokens"),
      regexp_count(col("text"), lit(bpeish)).cast("int").as("bpeish_tokens"))
  }

  /** Repetition filter (q71) — the Gopher-style repeated-content quality
    * signal: the most frequent shingle's share of all shingles. Boilerplate
    * and degenerate repeated text score high; keep ⇔ ratio ≤ 0.2. Uses the
    * NON-distinct shingle multiset (multiplicity is the signal), two hash
    * aggregations with map-side combine. */
  def repetition(docs: DataFrame): DataFrame = {
    val counts = shingles(docs)
      .groupBy(col("doc_id"), col("hb")).agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_n"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"), col("top_n"),
        (col("top_n").cast("double") / col("n_shingles").cast("double")).as("rep_ratio"),
        (col("top_n").cast("double") / col("n_shingles").cast("double") <= 0.2)
          .cast("int").as("keep_rep"))
  }

  /** Document fingerprint: the 4 smallest distinct 60-bit shingle hashes
    * (winnowing-style k-min sketch), joined `m1-m2-m3-m4` as `fp`.
    *
    * Shape history — this op is the engine's canary for aggregate scale:
    * r4's per-doc `row_number` window sorted every (doc_id, h) partition
    * globally and went sub-linear at the ×64 corpus (dps ratio 0.42); the
    * r5 `slice(array_sort(collect_set(md5str)), 1, 4)` rewrite removed the
    * window but kept a TypedImperativeAggregate whose partial state is the
    * whole per-doc md5 set — the exchange stayed corpus-sized and
    * ObjectHashAggregateExec's sort-based fallback (default threshold: 128
    * groups, i.e. always at corpus scale) still sorted every map partition
    * by doc_id; the ratio wobbled 0.63–0.76 across fresh-JVM probes, never
    * safely past the 0.7 linearity bar.
    *
    * Now: [[graft.functions.MinK4]], a DeclarativeAggregate with a CONSTANT
    * 4-slot long buffer — all-fixed-width state keeps the aggregation in
    * HashAggregateExec's UnsafeRow fast path (whole-stage codegen, true
    * map-side combine), and the exchange carries 4 longs per doc instead of
    * the distinct-shingle table. Feeding it [[shingleHashes]] (per-doc
    * array_distinct inside the generator) means a doc's shingles never leave
    * their map partition: the partial buffer IS the final top-4.
    *
    * `fp` is NULL when a doc has < 4 distinct shingles — same as the
    * oracle's `m1 || '-' || …` with a missing (NULL) rank. The fingerprint
    * value space moved from concatenated md5 hex to the same 60-bit
    * md5-prefix integers every other dedup op keys on
    * ([[graft.functions.GraftMd5.shingles60]]) —
    * one hash family across the whole file. */
  def fingerprint(docs: DataFrame): DataFrame =
    shingleHashes(docs)
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinK4.minK4(col("hb")).as("tops"))
      .select(col("doc_id"),
        when(size(col("tops")) >= 4,
          array_join(col("tops").cast("array<string>"), "-")).as("fp"),
        size(col("tops")).cast("bigint").as("k"))

  /** Benchmark decontamination (q119) — the eval-set-leak check every
    * training corpus needs before release (GPT-3 §2.2 / PaLM-style 8-gram
    * overlap): the distinct shingle hashes of the (definitionally small)
    * eval set are broadcast against the corpus shingle table; each corpus
    * doc reports how many of its distinct shingles appear in ANY eval doc
    * and is flagged past [[ContaminatedFrac]] overlap. Only overlapping docs are
    * emitted (the 100 TB common case: almost every doc has zero overlap and
    * never leaves its map task — the broadcast hash join filters it out
    * before any shuffle).
    *
    * The broadcast is BY CONSTRUCTION safe, unlike the dedup candidate sets
    * ([[pairIntersect]]'s rationale): an eval benchmark is a fixed,
    * human-curated artifact orders of magnitude below executor memory, not
    * a data-dependent set that a re-crawl storm can inflate. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalHb = shingleHashes(evalDocs).select(col("hb")).distinct()
      .withColumn("hit", lit(1))
    // ONE corpus pass: left-broadcast-join the eval set (distinct (doc_id,hb)
    // ⋈ distinct hb is 1:≤1 — no row multiplication), then a single partial-
    // aggregating groupBy carries BOTH counts. The two-pass form (separate
    // sizes agg + overlap agg) scans and exchanges the corpus-sized shingle
    // table twice for the same row set.
    val sh = shingleHashes(docs)
    sh.join(broadcast(evalHb), Seq("hb"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles").cast("double")).as("overlap_frac"),
        (col("n_overlap").cast("double") / col("n_shingles").cast("double") >= ContaminatedFrac)
          .cast("int").as("contaminated"))
  }

  /** q133: FUZZY benchmark decontamination — where [[decontaminate]] flags
    * verbatim n-gram overlap, this catches paraphrased/truncated leaks the
    * way production eval-protection passes do (MinHash-LSH candidates, then
    * exact-Jaccard verify), reusing the incremental-dedup machinery with the
    * eval set as the base side: eval bands ⋈ corpus bands → candidate pairs
    * (bounded by collision density, never eval×corpus), pairs-scoped
    * semi-join verify, per-corpus-doc argmax eval match. The eval side is
    * definitionally small but the CANDIDATE set is what bounds cost, so the
    * same no-forced-broadcast discipline applies. Output: one row per corpus
    * doc with ≥1 candidate — best-matching eval doc, its Jaccard, and the
    * leak flag at [[LeakJaccard]]. */
  def fuzzyDecontaminate(docs: DataFrame, isEval: org.apache.spark.sql.Column): DataFrame = {
    val (arr, bands) = dedupArtifacts(docs)
    incrementalDedupAgainst(arr.filter(isEval), bands.filter(isEval),
      arr.filter(!isEval), bands.filter(!isEval), LeakJaccard)
      .withColumnRenamed("match_doc", "eval_doc")
      .withColumnRenamed("is_dup", "leaked")
  }

  /** Corpus-level shingle heavy hitters (q120): the `k` most document-
    * frequent shingle hashes — the boilerplate detector (cookie banners,
    * nav bars) that feeds line/paragraph-removal rules. ONE partial-
    * aggregating count over the distinct (doc_id, hb) table, then a
    * TakeOrderedAndProject top-k (per-partition heaps + driver merge of k
    * rows — never a global sort); ties at the boundary break by hb so the
    * cut is total-ordered at any partitioning. */
  def shingleTopK(docs: DataFrame, k: Int = 20): DataFrame =
    shingleHashes(docs)
      .groupBy(col("hb")).agg(count(lit(1)).as("df_docs"))
      .orderBy(col("df_docs").desc, col("hb").asc)
      .limit(k)

  /** Substring-duplication profile (q126) — the span-level view behind
    * "dedup duplicated substrings, not just whole documents" (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"): per
    * doc, how many of its distinct char-8-gram spans also occur in ≥ 2 docs
    * corpus-wide, the duplicated fraction, and a heavy-dup verdict at 50 %.
    * Plan: ONE document-frequency hash agg over the shared (doc_id, hb)
    * table, one equi-join back on `hb` (both sides partial-aggregated, AQE
    * skew-splittable on boilerplate-hot hashes), one per-doc agg — no
    * window, no sort, linear in corpus shingles. */
  def dupSpanProfile(docs: DataFrame): DataFrame = {
    val dsh = shingleHashes(docs)
    // r6 probe: a df≥2-filtered build side was tried here and measured
    // SLOWER at the ×64 leg (17.6 s vs 12.6 s) — the synthetic corpus's
    // shingle vocabulary is small (831 k distinct vs 89.8 M rows at ×64), so
    // the full df table already AQE-broadcasts and 98 % of hashes have
    // df ≥ 2 anyway; the filter bought nothing and the left-join shape lost
    // the inner join's null-skipping. Keeping the r5 shape.
    val df = dsh.groupBy(col("hb")).agg(count(lit(1)).as("df_docs"))
    dsh.join(df, "hb")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_shingles").cast("double"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"), col("dup_frac"),
        (col("dup_frac") >= HeavyDupFrac).cast("int").as("heavy_dup"))
  }

  /** (doc_id, pos, hb): POSITIONAL shingle hashes — same 60-bit md5-prefix
    * grams as [[shingleHashes]] but keeping each gram's 1-based char offset
    * (and therefore within-doc repeats). Pure per-row map off the scan. */
  private def positionalShingleHashes(docs: DataFrame): DataFrame =
    shingleable(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.Shingles60.shingles60(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("hb"))

  /** q134: the REMOVAL ledger of exact-substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better") — where
    * [[dupSpanProfile]] reports how much of a doc is duplicated, this says
    * WHICH character intervals to cut: every position whose shingle occurs
    * in ≥ 2 documents, with overlapping [pos, pos+7] gram spans merged into
    * maximal intervals by a per-doc gaps-and-islands pass (new island when
    * the next duplicated gram starts ≥ ShingleLen past the previous one, i.e.
    * the grams share no character).
    *
    * Scale notes: cross-doc document frequency comes from ONE partial-
    * aggregating pass over the distinct shingle table; the positional table
    * joins it on `hb` (AQE skew-splittable on boilerplate-hot hashes) and is
    * immediately cut to duplicated positions — the windows then run
    * per-doc over the DUP-DENSITY-scoped survivors, each partition bounded
    * by ≤ MaxShingleChars positions per doc. Everything is exact integer
    * arithmetic. */
  def dupSpanRemoval(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = shingleHashes(docs).groupBy(col("hb")).agg(count(lit(1)).as("df_docs"))
    val dupPos = positionalShingleHashes(docs)
      .join(df.filter(col("df_docs") >= 2).select(col("hb")), "hb")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("new_island",
        (col("prev").isNull || col("pos") - col("prev") >= ShingleLen).cast("long"))
      .withColumn("island", sum(col("new_island")).over(run))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit((ShingleLen - 1).toLong)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("island"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"), col("n_grams"))
  }

  /** q135: deterministic k-minimum-values distinct-cardinality estimate per
    * language — the oracle-checkable stand-in for HyperLogLog
    * (`approx_count_distinct` sketches are engine-private, so their results
    * can never be bit-compared): over the 60-bit shingle-hash space, the
    * k-th smallest DISTINCT hash h₍ₖ₎ estimates the cardinality as
    * (k−1)·2⁶⁰ / h₍ₖ₎ (Bar-Yossef et al. 2002). Dense_rank ≤ k is pushed
    * into WindowGroupLimit (map-side per-language top-k heaps — the
    * corpus-sized input reduces to ≤ k·partitions rows BEFORE the
    * exchange), so the estimate path never shuffles the hash table. The
    * exact column (the comparison baseline, = what the estimate avoids)
    * costs the classic two partial-aggregating exchanges; production
    * profiling at 100 TB would keep only the KMV column. */
  def kmvDistinct(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lsh = distinctShingles(docs, "lang")
    val byLang = Window.partitionBy(col("lang")).orderBy(col("hb").asc)
    val kept = lsh.withColumn("rnk", dense_rank().over(byLang)).filter(col("rnk") <= KmvK)
    val est = kept.groupBy(col("lang"))
      .agg(max(col("hb")).as("kth"), countDistinct(col("hb")).as("n_kept"))
    val exact = lsh.select(col("lang"), col("hb")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
    est.join(exact, "lang")
      .select(col("lang"), col("n_exact"), col("n_kept"),
        when(col("n_kept") < KmvK, col("n_kept").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(1152921504606846976.0)
            / col("kth").cast("double")).as("kmv_estimate"))
  }

  /** q151: source-pair shingle-overlap matrix — for every pair of corpus
    * sources (crawl snapshots, registries, dumps) the count of shared
    * distinct 8-gram shingle hashes and the set-Jaccard in exact ppm: the
    * corpus-composition diagnostic run before mixing sources (a high cell
    * means one source largely restates another and its mix weight
    * double-counts that content).
    *
    * Scale notes: the (source, hb) table is distinct-collapsed in ONE
    * partial-aggregating exchange (most duplicate hashes repeat WITHIN a
    * source, so the map side collapses them before the shuffle); the pair
    * self-join keys on the hash and its fan-out is bounded by S² per hash
    * where S = #sources — a bounded catalog dimension (the output matrix is
    * S²-sized by definition, so a corpus whose S makes S² large needs the
    * q144-style condensation FIRST, not a bigger join); cell counts
    * collapse in one exchange on the source pair. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = distinctShingles(docs, "source").distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    sh.as("a").join(sh.as("b"),
        col("a.hb") === col("b.hb") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"), col("sz").as("sz_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("sz").as("sz_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("sz_a"), col("sz_b"),
        expr("n_shared * 1000000 div (sz_a + sz_b - n_shared)").as("jaccard_ppm"))
  }

  /** q152: asymmetric containment over the LSH candidate pairs —
    * |A∩B| / |A| and / |B| in exact ppm. Jaccard (q16) misses the
    * quote/subset case this exists for: a short doc fully embedded in a
    * long one has tiny Jaccard but containment ≈ 1 on the short side — the
    * signal that separates "B quotes A wholesale" from "A and B overlap a
    * bit", which drives KEEP-THE-SUPERSET retention where symmetric dedup
    * would keep both.
    *
    * Scale notes: identical shape to [[ngramJaccard]] — candidate pairs
    * from the banded LSH chain (never all-pairs), then the shared
    * [[pairIntersect]] verify. All outputs integer (counts + floor-ppm) ⇒
    * bit-identical at any partitioning. */
  def containment(docs: DataFrame): DataFrame = {
    val arr = shingleArrays(docs)
    pairIntersect(pairsOf(lshBands(docs)), arr, arr)
      .select(col("doc_a"), col("doc_b"), col("i").as("n_shared"),
        col("sz_a"), col("sz_b"),
        expr("i * 1000000 div sz_a").as("cont_a_ppm"),
        expr("i * 1000000 div sz_b").as("cont_b_ppm"),
        // the retention policy this op feeds: when one side is ≥ 90 %
        // contained in the other, the CONTAINING (superset) doc is the keep
        when(expr("i * 1000000 div sz_a") >= 900000L &&
             expr("i * 1000000 div sz_b") >= 900000L, lit("near-equal"))
          .when(expr("i * 1000000 div sz_a") >= 900000L, lit("a-in-b"))
          .when(expr("i * 1000000 div sz_b") >= 900000L, lit("b-in-a"))
          .otherwise(lit("partial")).as("relation"))
  }
}
