package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based document scoring in exact arithmetic: a corpus-trained bigram
  * language model (the CCNet-style "perplexity filter", here as an
  * exact-rational conditional-probability score — libm `log`/`pow` are not
  * bit-portable across engines, and an order-preserving rational proxy is)
  * and a hashed-feature linear classifier (the fastText/logistic-regression
  * quality gate of GPT-3/CCNet-style curation, with deterministic weights so
  * the whole scorer is an auditable pure function).
  *
  * Scale notes (both ops): the word/bigram derivation is a pure per-row
  * `transform` over the first [[WebCuration.MaxWords]] words (zero exchanges
  * before the first aggregate — the paragraph-dedup discipline). LM counts
  * are partial-aggregating hash aggregates; the conditional probability is
  * computed on the DISTINCT-bigram table (vocabulary²-bounded, sparse), so
  * the prefix-count join touches one row per distinct bigram — stop-word
  * skew costs a hot key in a combine-collapsed agg, never a replicated
  * occurrence list. The doc-side score join keys on (w1, w2) against that
  * scored table; AQE splits any residual hot bigram. The classifier never
  * joins at all: weights are a pure hash of the feature bucket, so scoring
  * is map-only + one per-doc aggregate.
  */
object QualityModels {

  private val TargetLang = "en" // importanceWeights' target distribution
  private val KeepPpm = 1000000L // importanceWeights' keep bar: as target-like as raw

  /** (doc_id, w1, w2): adjacent word pairs, derived per-row (no posexplode
    * + self-join — that shape shuffles corpus×words rows). */
  private def bigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        WebCuration.words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** q137: bigram-LM fluency scoring — per doc, the mean conditional
    * probability of its bigrams under the corpus LM, in parts-per-million
    * (`ppm = 10^6 · count(w1,w2) / count(w1·)`, exact BIGINT division; the
    * prefix count derives from the bigram table itself, so there is exactly
    * one corpus-wide count pass). Buckets: fluent ≥ 0.5 mean, typical ≥ 0.1,
    * else surprising — the perplexity-tercile gate of CCNet, with fixed
    * thresholds so the verdict is a pure per-row function. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val bg = bigrams(docs)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // prefix mass from the distinct-bigram table: sum(c12) per w1 ≡ the
    // bigram-position count of w1 — no second corpus scan
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val scored = c12.join(c1, "w1")
      .select(col("w1"), col("w2"), expr("(c12 * 1000000) div c1").as("cond_ppm"))
    bg.join(scored, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cond_ppm")).as("ppm_sum"))
      .withColumn("mean_ppm", expr("ppm_sum div n_bigrams"))
      .withColumn("bucket",
        when(col("mean_ppm") >= 500000L, lit("fluent"))
          .when(col("mean_ppm") >= 100000L, lit("typical"))
          .otherwise(lit("surprising")))
      .select(col("doc_id"), col("n_bigrams"), col("ppm_sum"),
        col("mean_ppm"), col("bucket"))
  }

  /** Feature buckets for the hashed classifier. */
  val FeatureDim = 4096

  /** q138: hashed linear quality classifier — each word hashes (portable
    * md5-prefix hash) to one of [[FeatureDim]] buckets; the bucket's integer
    * weight in [-1001, 1001] is itself a hash of the bucket id (a frozen,
    * auditable stand-in for trained weights — the SERVING path of a
    * fastText-style gate, which at 10^12 docs is the cost that matters; the
    * weights table could equally be a broadcast join, but a closed form
    * keeps scoring map-only). Score = Σ weights; the keep verdict thresholds
    * the SHIFTED per-word mean (score + 1001·n, guaranteed non-negative, so
    * integer division semantics agree across engines). */
  def qualityClassifier(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        WebCuration.words.as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .withColumn("bucket",
        graft.functions.Md5Prefix60.md5Prefix60(col("w")) % FeatureDim)
      .withColumn("weight", expr("(bucket * 2654435761) % 2003 - 1001"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("weight")).as("w_sum"))
      .withColumn("avg_shift_ppk",
        expr("((w_sum + 1001 * n_words) * 1000) div n_words"))
      .withColumn("keep",
        when(col("avg_shift_ppk") >= 1001000L, lit(1)).otherwise(lit(0)))
      .select(col("doc_id"), col("n_words"), col("w_sum"),
        col("avg_shift_ppk"), col("keep"))

  /** q150: DSIR-style importance weighting — per-doc importance of the raw
    * corpus under a TARGET distribution (here: the [[TargetLang]] subset),
    * the data-selection step of Xie et al. 2023 ("Data Selection for
    * Language Models via Importance Resampling") in exact arithmetic: words
    * hash to [[FeatureDim]] buckets; the bucket's importance ratio is the
    * add-one-smoothed target/raw probability ratio in ppm (each probability
    * first floored onto a ppb grid — integer division order is fixed, so
    * Spark and the oracle agree bit-for-bit; the ppb grid resolves a
    * 1/4096-uniform bucket to ~5 decimal digits); a doc's score is the mean
    * bucket ratio over its words, kept when ≥ [[KeepPpm]] (more target-like
    * than raw). `log` would be the classical form — a ratio preserves the
    * same per-word preorder and stays integral. Overflow headroom:
    * (c+1)·10⁹ needs c < 9.2·10⁹ occurrences per bucket; beyond that drop
    * the grid to ppm (documented bound, not a silent wrap).
    *
    * Scale notes: ONE partial-aggregating exchange builds the whole model
    * (raw + target counts as one conditional agg on the bucket key —
    * FeatureDim rows out, stop-word skew is a combine-collapsed reduce
    * key); totals are a 1-row broadcast; scoring joins the ≤ FeatureDim-row
    * ratio table back as a BROADCAST (map-only on the corpus) and collapses
    * straight to doc grain in one partial agg. Nothing corpus-sized ever
    * shuffles twice. */
  def importanceWeights(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), col("lang"),
        WebCuration.words.as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), col("lang"), explode(col("ws")).as("w"))
      .withColumn("bucket",
        graft.functions.Md5Prefix60.md5Prefix60(col("w")) % FeatureDim)
    val counts = words.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("c_t"))
    val totals = counts.agg(sum(col("c_r")).as("tot_r"), sum(col("c_t")).as("tot_t"))
    val ratios = counts.crossJoin(broadcast(totals)) // 1-row totals
      .select(col("bucket"),
        expr(s"(c_t + 1) * 1000000000 div (tot_t + $FeatureDim)").as("pt_ppb"),
        expr(s"(c_r + 1) * 1000000000 div (tot_r + $FeatureDim)").as("pr_ppb"))
      // the add-one numerator keeps pt ≥ 0; the raw side could still floor
      // to 0 ppb on a vanishingly rare bucket under a huge corpus — clamp
      // to 1 so the ratio stays total (and the clamp is mirrored verbatim
      // in the oracle)
      .select(col("bucket"),
        expr("pt_ppb * 1000000 div greatest(pr_ppb, CAST(1 AS BIGINT))").as("r_ppm"))
    words.join(broadcast(ratios), "bucket") // ≤ FeatureDim rows — map-only
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("r_ppm")).as("r_sum"))
      .select(col("doc_id"), col("n_words"),
        expr("r_sum div n_words").as("score_ppm"),
        when(expr("r_sum div n_words") >= KeepPpm, 1).otherwise(0)
          .cast("int").as("keep"))
  }

  /** q156: curation-gate agreement audit — Cohen's kappa between the
    * heuristic quality gate (q19) and the hashed classifier (q138), per
    * language: the 2×2 contingency (n11/n10/n01/n00), observed and chance
    * agreement in ppm, and kappa in exact signed ppm. The drift monitor
    * every two-gate pipeline needs: when kappa collapses in one language,
    * one of the gates broke for it.
    *
    * Determinism: kappa's numerator can be negative and Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, so the sign is
    * factored out and the division always runs on non-negative operands —
    * bit-identical in both engines. Overflow headroom: pe_ppm/kappa_ppm
    * multiply n²-bounded products by 10⁶, so BIGINT overflow starts near
    * n ≈ 3·10⁶ docs per language (n²·10⁶ < 2⁶³), NOT the 3·10⁹ an earlier
    * note claimed; shard larger languages first, or compute pe on a
    * reduced grid (documented bound, not a silent wrap).
    *
    * Scale notes: both gates are map-only scorers collapsing to doc grain
    * in one partial agg each; the contingency is ONE exchange on the
    * language key (≤ #languages rows out, skew combine-collapsed); the
    * kappa arithmetic is per-row closed form on that tiny table. */
  def gateAgreement(docs: DataFrame): DataFrame = {
    val h = TextOps.quality(docs).select(col("doc_id"), col("keep").as("keep_h"))
    val c = qualityClassifier(docs).select(col("doc_id"), col("keep").as("keep_c"))
    val tab = docs.select(col("doc_id"), col("lang"))
      .join(h, "doc_id").join(c, "doc_id")
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(when(col("keep_h") === 1 && col("keep_c") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("keep_h") === 1 && col("keep_c") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("keep_h") === 0 && col("keep_c") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("keep_h") === 0 && col("keep_c") === 0, 1L).otherwise(0L)).as("n00"))
    val peNum = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    val num = s"((n11 + n00) * n - $peNum)"
    val den = s"(n * n - $peNum)"
    tab.select(col("lang"), col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      expr("(n11 + n00) * 1000000 div n").as("po_ppm"),
      expr(s"$peNum * 1000000 div (n * n)").as("pe_ppm"),
      expr(s"""CASE WHEN $den = 0 THEN CAST(0 AS BIGINT)
              |     WHEN $num < 0 THEN -((-$num) * 1000000 div $den)
              |     ELSE $num * 1000000 div $den END""".stripMargin).as("kappa_ppm"))
  }
}
