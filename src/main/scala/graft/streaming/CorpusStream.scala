package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.TextOps

/** Streaming corpus ingestion — the incremental form of the batch curation
  * pipeline (q50): a stream of crawled documents is exact-deduplicated on
  * content hash with BOUNDED state (`dropDuplicatesWithinWatermark`: one
  * state row per distinct hash inside the watermark horizon, evicted after),
  * then pushed through the same quality gate as the batch path. The
  * reference has no streaming surface at all; this is the engine's "crawl
  * arrives continuously" upgrade of the dedup lifecycle.
  *
  * Scale notes: state is keyed by the 128-bit content hash — a revisit of a
  * URL days later (outside the watermark) re-enters, which is the standard
  * trade for bounded state at crawl scale; cross-horizon dedup belongs to the
  * batch LSH pass (q15/q16) over the accumulated snapshot.
  */
object CorpusStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("event_ts", TimestampType)))

  /** Batch catch-up over a snapshot table (`Trigger.AvailableNow`): stream
    * all data committed so far through a streaming aggregation, then stop on
    * its own — the stream/batch-unification read of the snapshot layer
    * (process the backlog with streaming semantics + checkpointable state,
    * without a long-lived query). Returns the started query; callers
    * `awaitTermination()`. */
  def catchUpCounts(spark: SparkSession, table: String, schema: StructType,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    // the `_graft_manifest` subdir starts with '_' so Spark's file index
    // skips it; partition discovery maps the lang=... dirs onto the schema
    spark.readStream.schema(schema).parquet(table)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .writeStream.outputMode("complete").format("memory").queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming crawl ingest against PERSISTED dedup artifacts — the
    * end-to-end production shape the batch pieces compose into: every
    * micro-batch is shingled + banded ONCE (`TextOps.dedupArtifacts`),
    * LSH-checked against the artifact store (batch bands ⋈ base bands only
    * — no batch², no base², no corpus re-LSH;
    * [[graft.ops.TextOps.incrementalDedupAgainst]]), and the accepted
    * (non-duplicate) documents are appended to the corpus sink while their
    * shingle-array/band tables are appended to the artifacts — the store grows
    * monotonically and later batches dedup against everything accepted so
    * far. Exact within-batch duplicates collapse on content hash first.
    *
    * Delivery: the ARTIFACT STORE is the authority and commits FIRST; a
    * batch replayed after its artifacts landed re-accepts its own documents
    * (their best match in the store is themselves — same doc_id, a state
    * only a replay can produce), so a crash in any window loses nothing.
    * The corpus sink is plain append parquet = at-least-once: a replay
    * after the sink write can duplicate sink rows, which the batch exact
    * dedup collapses on content hash downstream. Exactly-once belongs to
    * the snapshot layer's manifest commit ([[graft.pipeline.Snapshots]]).
    * Pass `checkpoint` so a RESTARTED query resumes from committed offsets
    * instead of reprocessing the source from scratch. */
  def incrementalIngest(spark: SparkSession, srcDir: String, artifactDir: String,
      outDir: String, checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // sh/ holds per-doc (doc_id, arr) shingle arrays; a store written with
    // the older exploded (doc_id, hb) rows fails loudly on the missing `arr`
    val shDir = s"$artifactDir/sh"; val bandDir = s"$artifactDir/bands"
    val writer = spark.readStream.schema(docSchema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val docs = batch
          .withColumn("h", md5(col("text")))
          .dropDuplicates("h") // exact within-batch clones collapse first
          .select(col("doc_id"), col("text"), col("event_ts"))
        val (barr0, bbands0) = TextOps.dedupArtifacts(docs.select(col("doc_id"), col("text")))
        val barr = barr0.cache(); val bbands = bbands0.cache()
        val s = docs.sparkSession
        def readOrEmpty(dir: String, like: DataFrame): DataFrame =
          if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
            s.read.parquet(dir)
          else like.filter(lit(false))
        // dup ids stay DISTRIBUTED: a re-crawl storm can make most of a
        // micro-batch duplicate, so collecting them to the driver (and
        // filtering with a literal isin list) is an unbounded driver-memory /
        // plan-size risk at crawl scale — the anti-join keeps the filter
        // in-plan (AQE broadcasts the dup side when it is genuinely small)
        val dupIds = TextOps.incrementalDedupAgainst(
            readOrEmpty(shDir, barr), readOrEmpty(bandDir, bbands),
            barr, bbands, TextOps.NearDupJaccard)
          // a doc whose BEST match is itself is a replayed batch re-checking
          // against its own committed artifacts — accept it again
          .filter(col("is_dup") === 1 && col("match_doc") =!= col("doc_id"))
          .select(col("doc_id"))
        val accepted = docs
          .join(dupIds, Seq("doc_id"), "left_anti")
          .cache()
        val newIds = accepted.select(col("doc_id"))
          .join(readOrEmpty(bandDir, bbands).select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti").cache()
        newIds.count() // materialize from the PRE-batch store snapshot, so no
                       // later job reads the path it is appending to
        // artifact store commits FIRST (only ids not already in the store —
        // a replay must not double-append its artifacts), sink second
        barr.join(newIds, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(shDir)
        bbands.join(newIds, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(bandDir)
        accepted.write.mode("append").parquet(outDir)
        barr.unpersist(); bbands.unpersist(); accepted.unpersist()
        // drop the verify plan's internal pair cache: a long-running stream
        // would otherwise accumulate one orphan cache entry per micro-batch
        s.catalog.clearCache()
        ()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /** Exact-dedup + quality-gate a document stream. Emits
    * (doc_id, event_ts, n_tokens, mean_word_len, stop_ratio) for documents
    * that are first-seen (within the watermark horizon) AND pass the gate. */
  def dedupIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.readStream.schema(docSchema).parquet(dir)
      .withColumn("h", md5(col("text")))
      .withWatermark("event_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("h")
    // same feature formulas as the batch quality gate (TextOps.quality)
    TextOps.quality(docs.select(col("doc_id"), col("text"), col("event_ts")))
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"), col("stop_ratio"))
  }
}
