package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical/retrieval operators over the web-text corpus: term frequencies,
  * TF-IDF salient terms, an inverted-index probe, and corpus vocabulary
  * statistics — the text-side ops a training-data pipeline runs for topic
  * sampling, quality heuristics and benchmark-leak triage.
  *
  * Scale notes: the word explode is a pure per-row map bounded by
  * [[WebCuration.MaxWords]] (same derivation as paragraph dedup — zero
  * exchanges before the first aggregate). TF and DF are partial-aggregating
  * hash aggregates (map-side combine collapses each doc's words before the
  * shuffle). The only window is per-doc top-k (partitions ≤ MaxWords rows).
  * The index probe broadcasts the (definitionally small) term set; full
  * posting lists are never collected into one row — stop-word postings are
  * corpus-sized, so the index stays in TABLE form (w, doc_id, tf) and the
  * vocabulary stats keep only scalar aggregates per word.
  */
object Lexicon {

  private val ProbeDocId = 7L // postingsProbe's probe document

  /** (doc_id, w): first [[WebCuration.MaxWords]] whitespace words per doc —
    * the oracle mirrors with a bounded generate_series over string_split. */
  def words(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(WebCuration.words).as("w"))

  /** Term frequencies: one row per (doc_id, w). */
  def termFreq(docs: DataFrame): DataFrame =
    words(docs).groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))

  /** q121: top-`k` salient terms per doc by a rational TF-IDF
    * (tf · N / df — exact BIGINT product, ONE double division, so Spark and
    * DuckDB agree bitwise; the usual log-idf would leak libm differences).
    * Ties break by term text so the cut is total-ordered. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = termFreq(docs)
    val df_ = tf.groupBy(col("w")).agg(count(lit(1)).as("df_docs"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "w")
      .crossJoin(broadcast(n)) // 1-row total, broadcast by construction
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df_docs").cast("double"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w").asc)
    scored.withColumn("rnk", row_number().over(byDoc))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("w"), col("tf"), col("df_docs"), col("score"),
        col("rnk").cast("int").as("rnk"))
  }

  /** q122: inverted-index probe — full postings (doc_id, tf) for the terms of
    * one probe document (the retrieval shape: a SMALL term set broadcast
    * against the corpus-sized postings table; output bounded by term
    * selectivity, never by vocabulary size). */
  def postingsProbe(docs: DataFrame): DataFrame = {
    val terms = words(docs.filter(col("doc_id") === ProbeDocId))
      .select(col("w")).distinct()
    termFreq(docs).join(broadcast(terms), "w")
      .select(col("w"), col("doc_id"), col("tf"))
  }

  /** q123: corpus vocabulary statistics per word — document frequency, total
    * term count, id range. Scalar aggregates only (no posting arrays), one
    * partial-aggregating shuffle on `w`; skewed stop-words cost one hot key
    * in a combine-collapsed agg, not a collected list. */
  def vocabulary(docs: DataFrame): DataFrame =
    termFreq(docs).groupBy(col("w"))
      .agg(count(lit(1)).as("df_docs"), sum(col("tf")).as("tf_total"),
        min(col("doc_id")).as("doc_min"), max(col("doc_id")).as("doc_max"))

  /** q127: one BPE-style merge iteration — the top-`k` adjacent word pairs by
    * corpus count (the distributed inner step of tokenizer training: count
    * candidate merges, pick the argmax, repeat). Pair derivation is a pure
    * per-row `transform` over the bounded word array (zero exchanges before
    * the aggregate — same derivation discipline as paragraph dedup); the
    * count is ONE partial-aggregating shuffle on (w1, w2), and the top-k cut
    * is total-ordered by (count desc, w1, w2) so ties can't flap the result.
    * At 100 TB the candidate-pair table is vocabulary²-bounded but sparse;
    * the map-side combine collapses each doc's repeats before the exchange
    * and the global top-k is a TakeOrdered, never a full sort. */
  def bpePairs(docs: DataFrame, k: Int = 20): DataFrame =
    docs
      .select(WebCuration.words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("w1").asc, col("w2").asc)
      .limit(k)

  /** q131: EXACT per-language token-length percentiles (nearest-rank p50/p90/
    * p99) via a value-domain histogram — the scale-safe alternative to both
    * a global sort (O(n log n) shuffle of every row) and `approx_percentile`
    * (sketch results differ across engines, so they cannot be oracle-checked
    * bit-for-bit). The corpus collapses to (lang × distinct length) histogram
    * rows in ONE partial-aggregating exchange; the cumulative window and the
    * rank cuts then run over that domain-bounded table (≤ MaxWords rows per
    * language, whatever the corpus size). Rank cuts are exact integer
    * comparisons (cum·den ≥ num·N ⇔ cum ≥ ⌈q·N⌉ for integer cum), so Spark
    * and DuckDB agree bitwise with no floating-point ceil.
    *
    * Output schema (public): `lang` STRING, `n_docs` DOUBLE, `p50`, `p90`,
    * `p99` and `n_max` BIGINT. `n_docs` is a DOUBLE by contract, not by
    * accident: the DuckDB oracle's `sum(cnt)` widens to HUGEINT, which the
    * driver reads as float64, and a result compares equal only in the same
    * type family. The value is a small exact integer either way. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val lens = docs.select(col("lang"),
      least(size(split(col("text"), " ")), lit(WebCuration.MaxWords))
        .cast("long").as("n_tokens"))
    val hist = lens.groupBy(col("lang"), col("n_tokens")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-lang total as a FULL-FRAME window over the same histogram — not a
    // separate aggregate joined back: that shape relied on exchange reuse to
    // avoid a second corpus scan, and reuse is opportunistic (it silently
    // degraded to a rescan when the canonical exchange forms drifted, e.g.
    // under a cached input). Both windows share the (lang) partitioning, so
    // the histogram is exchanged once and never re-derived by construction.
    val wAll = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_docs", sum(col("cnt")).over(wAll))
    cum
      .groupBy(col("lang"))
      // n_docs DOUBLE: the public schema (see the scaladoc)
      .agg(max(col("n_docs")).cast("double").as("n_docs"),
        min(when(col("cum") * 2 >= col("n_docs"), col("n_tokens"))).as("p50"),
        min(when(col("cum") * 10 >= col("n_docs") * 9, col("n_tokens"))).as("p90"),
        min(when(col("cum") * 100 >= col("n_docs") * 99, col("n_tokens"))).as("p99"),
        max(col("n_tokens")).as("n_max"))
  }

  /** q129: CCNet-style quality bucketing with a rational surprisal proxy —
    * per-token rarity = corpus_tokens DIV token_count (exact BIGINT integer
    * division; real perplexity needs libm `log`, which is not bit-portable
    * across engines — an inverse-frequency ladder orders documents the same
    * way and stays exact), per-doc score = integer sum of rarities, mean =
    * ONE double division, bucket by fixed thresholds. Plan: two hash aggs +
    * one join on `w` (corpus-sized but partial-aggregated both sides) + the
    * broadcast 1-row total; no window, no sort — linear at any corpus size. */
  def rarityBuckets(docs: DataFrame): DataFrame = {
    val w = words(docs)
    val tfTot = w.groupBy(col("w")).agg(count(lit(1)).as("tf_total"))
    val total = w.agg(count(lit(1)).as("n_total"))
    val rarity = tfTot.crossJoin(broadcast(total)) // 1-row total, broadcast
      .select(col("w"), expr("n_total div tf_total").as("rarity"))
    w.join(rarity, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rarity")).as("rarity_sum"))
      .withColumn("mean_rarity",
        col("rarity_sum").cast("double") / col("n_tokens").cast("double"))
      .withColumn("bucket",
        when(col("mean_rarity") < 10.0, lit("common"))
          .when(col("mean_rarity") < 100.0, lit("typical"))
          .when(col("mean_rarity") < 1000.0, lit("rare"))
          .otherwise(lit("exotic")))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        col("mean_rarity"), col("bucket"))
  }
}
