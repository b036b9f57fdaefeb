package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import graft.synth.Synth

/** Writes PLANS.md — the executed physical plans of the flagship pipeline and
  * key operators, as reviewable evidence of the scale design (broadcast-only
  * dimension joins, the codegen'd PIP lookup as a join key, partial
  * aggregation, bounded exchanges). Run: `sbt "runMain graft.Plans"`. */
object Plans {
  /** A plan string with expression and plan ids masked, and with the JVM
    * identities that typed operators print (lambda class names, object
    * hash codes), so a diff of two runs shows plan shapes, not id churn. */
  def maskIds(plan: String): String =
    plan.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]+(?![\\w.])", "@x")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.001"

    def planOf(df: DataFrame): String = {
      df.collect()
      maskIds(df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
    }
    val sections = Seq(
      "Flagship: tiles (PIP join + stages join + depth/class kernel)" ->
        pipeline.Inundate.tiles(spark, Synth.points(spark, sf)),
      "Flagship: mosaic (per-cell max)" -> pipeline.Inundate.run(spark, sf),
      "kNN ring-expansion join" -> ops.KnnJoin.nearestGage(spark, Synth.points(spark, sf)),
      "Salted two-stage aggregation" -> ops.SaltedAgg.countAndMax(
        Synth.points(spark, sf),
        org.apache.spark.sql.functions.col("ccell"),
        org.apache.spark.sql.functions.col("pid"),
        org.apache.spark.sql.functions.col("hand"), 32),
      "MinHash wide signature (single-pass, HashAggregate)" ->
        ops.TextOps.minhashWide(Synth.corpus(spark, sf)),
      "LSH bucket self-join" -> ops.TextOps.lshPairs(Synth.corpus(spark, sf)),
      "Bankfull argmin (min(struct) — partial-aggregating SortAggregate)" ->
        ops.Calibration.bankfull(ops.Calibration.srcGeom(spark)),
      "Manning subdivision (broadcast bankfull + Newton-cbrt projection chain)" ->
        ops.Calibration.subdivide(ops.Calibration.srcGeom(spark)
          .filter(org.apache.spark.sql.functions.col("hydroid") % 7 === 3)),
      "Near-dup candidates (adaptive SRP bits, capped windows, 8 tables)" ->
        ops.AnnSearch.nearDupPairs(Synth.table(spark, sf, "embeddings")),
      "Agreement metrics with exclusion-polygon masks (mask lookup in the mosaic's final aggregate; no join)" ->
        ops.Agreement.metrics(ops.Agreement.agreement(spark, pipeline.Inundate.run(spark, sf))),
      "Extent dissolve (wet-cell 4-neighbor self-equi-join)" ->
        pipeline.Extents.dissolve(pipeline.Inundate.run(spark, sf)),
      "Group-roughness downstream walk (gaps-and-islands windows)" ->
        ops.Calibration.groupRoughness(spark),
      "Paragraph-level dedup (3 bounded exchanges, map-side combine)" ->
        ops.WebCuration.paragraphDedup(Synth.corpus(spark, sf)),
      "Merge upsert (broadcast anti-join; target never shuffles)" ->
        pipeline.Maintenance.mergeUpsert(Synth.forecast(spark),
          pipeline.Maintenance.forecastRevisions(spark), "feature_id"),
      "CatFIM site acceptance (broadcast dims over one SRC partial-agg)" ->
        ops.CatFim.siteAcceptance(spark),
      "k-means step (broadcast centroids; exact quantized M-step)" ->
        ops.AnnSearch.kmeansStep(Synth.table(spark, sf, "embeddings")),
      "Incremental batch-vs-base dedup (cross-side band join only)" ->
        ops.TextOps.incrementalDedup(Synth.corpus(spark, sf)),
      "Sierra test (dual rating-curve interp at recurrence flows)" ->
        ops.Calibration.sierraTest(spark),
      "Per-catchment alpha metrics (1 fact pass, broadcast PIP, hydroid agg)" ->
        ops.Agreement.alphaByHydroId(spark, pipeline.Inundate.run(spark, sf)),
      "AGREE stream burn (block-halo distance/allocation joins, packed argmin)" ->
        ops.Terrain.agreeBurn(spark),
      "Water-surface IDW fill (halo join, exact BIGINT weighted sums)" ->
        ops.Terrain.interpolateWse(spark),
      "Manning's reset donor replacement (two broadcast joins, no wide shuffle)" ->
        ops.Calibration.resetMannings(spark, ops.StreamNet.reaches(spark)),
      "Flood impact (features broadcast against wet sets, one full-outer agg)" ->
        ops.Impact.floodImpact(spark, pipeline.Inundate.run(spark, sf)),
      "Exact length percentiles (domain-bounded histogram — no global sort)" ->
        ops.Lexicon.lengthQuantiles(Synth.corpus(spark, sf)),
      "Fuzzy decontamination (eval-vs-corpus band join, pairs-scoped verify)" ->
        ops.TextOps.fuzzyDecontaminate(Synth.corpus(spark, sf),
          Synth.isBaseDoc(org.apache.spark.sql.functions.col("doc_id")) &&
            org.apache.spark.sql.functions.col("doc_id") % 37 === 0),
      "k-min fingerprint (MinK4 declarative agg — 4-long buffer, HashAggregate)" ->
        ops.TextOps.fingerprint(Synth.corpus(spark, sf)),
      "Bloom membership probe (broadcast ≤1024-row filter; batch never shuffles)" -> {
        val c = Synth.corpus(spark, sf)
        ops.BloomIndex.probe(
          c.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
          c.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1))
      },
      "Epoch shuffle (global order via key-prefix buckets + offset broadcast)" ->
        ops.Packing.epochOrder(Synth.corpus(spark, sf)),
      "Bigram LM scoring (distinct-bigram prob table, per-doc agg)" ->
        ops.QualityModels.bigramLmScore(Synth.corpus(spark, sf)),
      "Host boilerplate (one (host,hash) presence exchange; same-key flag join)" ->
        ops.WebCuration.hostBoilerplate(Synth.pages(spark, sf)),
      "HITS (per half-round: edge join + ONE partial agg; 1-row max broadcast)" ->
        ops.LinkGraph.hits(Synth.corpus(spark, sf)),
      "DSIR importance weights (one model exchange; ≤4096-row broadcast scoring)" ->
        ops.QualityModels.importanceWeights(Synth.corpus(spark, sf)),
      "Source-overlap matrix (map-side distinct; hash-keyed pair join)" ->
        ops.TextOps.sourceOverlap(Synth.table(spark, sf, "documents"))
    )
    val md = new StringBuilder("# PLANS — executed physical plans (AQE final)\n\n")
    md.append("Generated by `sbt \"runMain graft.Plans\"` at sf0.001; the plan\n")
    md.append("shapes are scale-invariant (same joins/exchanges at any SF).\n")
    sections.foreach { case (title, df) =>
      md.append(s"\n## $title\n\n```\n${planOf(df)}```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
