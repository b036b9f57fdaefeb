package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch assembly operators: sequence packing (the
  * concatenate-then-chunk ledger every GPT-style pretraining run computes
  * before writing token shards) and temperature-sampled corpus mix weights
  * (the per-language quota plan for multi-source training mixes).
  *
  * Scale notes: packing is inherently order-dependent, so its honest cost is
  * one sort per writer shard — docs are hash-sharded (`doc_id % shards`, one
  * exchange), then a per-shard window computes running token offsets; shard
  * count ([[Shards]]) is sized to the cluster (tokens per shard ≈ a writer
  * task's output file), so the sort never exceeds a task's slice. Mix
  * weighting is two scalar aggregates and a broadcast of a languages-sized
  * table. All arithmetic is exact-integer or single-division IEEE double, so
  * the DuckDB oracle reproduces every value bit-for-bit (the usual n^α
  * temperature uses libm `pow`, which is NOT bit-portable across engines —
  * α = 1/2 via correctly-rounded `sqrt` plus an integer correction ladder
  * is, and is itself a published mix temperature).
  */
object Packing {

  private val Shards = 64 // seqPack's writer shards

  /** q124: sequence-packing ledger at `budgetTokens` per training window —
    * docs are concatenated in (shard, doc_id) order and chunked; each doc
    * reports its token interval [tok_start, tok_end), the first/last window
    * it lands in, and how many windows it spans. Token count is the
    * whitespace tokenizer (the same `split` the quality ops use). */
  def seqPack(docs: DataFrame, budgetTokens: Int = 2048): DataFrame = {
    val byShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        (col("doc_id") % Shards).cast("int").as("shard"))
      .withColumn("tok_end", sum(col("n_tokens")).over(byShard))
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("tok_start"), col("tok_end"),
        expr(s"tok_start div $budgetTokens").as("seq_first"),
        expr(s"(tok_end - 1) div $budgetTokens").as("seq_last"),
        (expr(s"(tok_end - 1) div $budgetTokens") -
          expr(s"tok_start div $budgetTokens") + 1L).as("n_seqs"))
  }

  /** q139: deterministic global training order (the reproducible "epoch
    * shuffle" a pretraining run assigns before writing token shards) —
    * every doc gets a pseudo-random sort key (portable md5-prefix hash of
    * epoch:doc_id, so re-running any subset of partitions reassigns the SAME
    * positions) and a dense global position 0..n-1 in key order.
    *
    * The scale point is HOW the global position is computed: a single
    * `row_number() over (order by key)` is a one-partition sort of the
    * corpus — the canonical driver-shaped bottleneck. Instead the key's top
    * 10 bits range-partition the corpus into 1024 buckets whose order agrees
    * with full key order by construction (the bucket IS the key prefix);
    * positions are then per-bucket ranks plus exclusive bucket offsets from
    * a 1024-row count table (the only unpartitioned window, provably
    * bounded). One exchange for the per-bucket windows, one tiny broadcast
    * back — the same two-level prefix-sum shape as the seq-pack shard
    * ledger, but with a GLOBAL total order. */
  def epochOrder(docs: DataFrame, epoch: Int = 0): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      graft.functions.Md5Prefix60.md5Prefix60(
        concat(lit(s"ep$epoch:"), col("doc_id").cast("string"))).as("okey"))
      .withColumn("bucket", expr("okey div 1125899906842624").cast("int")) // 2^50
    val byBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("okey"), col("doc_id"))
    val ranked = keyed.withColumn("rnk", row_number().over(byBucket))
    val offsets = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("off"))
    ranked.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("okey"), col("bucket"),
        (col("off") + col("rnk") - 1L).as("global_pos"))
  }

  /** q125: temperature-sampled mix plan per language — document/token mass,
    * an α = 1/2 sampling weight computed as the EXACT integer sqrt of the
    * doc count (floor(sqrt) then a ±1 correction ladder, so a libm rounding
    * quirk can never flip a value), the normalized weight as one double
    * division, and an integer-arithmetic doc quota out of `budgetDocs`.
    * Quotas round down, so sum(quota) ≤ budgetDocs — the remainder is the
    * sampler's slack, reported as is rather than redistributed (keeps every
    * value a pure per-row function of the aggregate table). */
  def mixWeights(docs: DataFrame, budgetDocs: Long = 1000000L): DataFrame = {
    val per = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"))
    val s1 = floor(sqrt(col("n_docs").cast("double"))).cast("bigint")
    val wSqrt = when(s1 * s1 > col("n_docs"), s1 - 1L)
      .when((s1 + 1L) * (s1 + 1L) <= col("n_docs"), s1 + 1L)
      .otherwise(s1)
    val weighted = per.withColumn("w_sqrt", wSqrt)
    val total = weighted.agg(sum(col("w_sqrt")).as("w_total")) // exact BIGINT
    weighted.crossJoin(broadcast(total)) // 1-row total, broadcast by construction
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("w_sqrt"),
        (col("w_sqrt").cast("double") / col("w_total").cast("double")).as("weight"),
        expr(s"(w_sqrt * ${budgetDocs}L) div w_total").as("quota_docs"))
  }
}
