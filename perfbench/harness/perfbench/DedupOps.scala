package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DedupGraph, TextOps}
import graft.synth.Synth

/** The five dedup ops the traced run measures one by one, and the corpus
  * they run on. */
object DedupOps {
  val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "TextOps.minhashWide" -> (c => TextOps.minhashWide(c)),
    "TextOps.curate" -> (c => TextOps.curate(c)),
    "TextOps.incrementalDedup" -> (c => TextOps.incrementalDedup(c, 1000000L)),
    "DedupGraph.dupComponents" -> (c => DedupGraph.dupComponents(c)),
    "TextOps.dupSpanProfile" -> (c => TextOps.dupSpanProfile(c)))

  private val Units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25) // coprime to 26
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** The web corpus of `docDir` as independent shards: shard i is the corpus
    * under affine alphabet permutation `perms(i)` (x → a·x + b mod 26; 312
    * in all), with doc ids shifted by i·1e8. Distinct permutations share no
    * realistic 8-gram, so every shard repeats the corpus's clone structure
    * without cross-shard duplicates. */
  def shardedCorpus(spark: org.apache.spark.sql.SparkSession, docDir: String, perms: Seq[Int]): DataFrame = {
    val base = Synth.corpus(spark, docDir)
    perms.zipWithIndex.map { case (p, i) =>
      val a = Units(p / 26); val b = p % 26
      val perm = (0 until 26).map(k => Alpha((a * k + b) % 26)).mkString
      base.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        translate(col("text"), Alpha, perm).as("text"), col("lang"))
    }.reduce(_ unionByName _)
  }

  /** Seed-chosen distinct permutations out of the 312. */
  def choosePerms(seed: Long, shards: Int): Seq[Int] =
    new scala.util.Random(seed).shuffle((0 until 312).toVector).take(shards)

  /** Writes the sharded corpus to `path`, as a production corpus is one
    * parquet table rather than a union re-derived in every op. */
  def materialise(spark: org.apache.spark.sql.SparkSession, docDir: String, perms: Seq[Int],
      path: String): Unit =
    shardedCorpus(spark, docDir, perms).write.mode("overwrite").parquet(path)
}
