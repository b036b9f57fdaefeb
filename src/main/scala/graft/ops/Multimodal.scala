package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * The actual media codecs are NOT available in this environment, so the
  * decode kernel is a clearly-marked deterministic STUB (`fakeDecode`): it
  * derives metadata (dimensions, duration) from the payload bytes by hash —
  * the Spark-side plumbing (schema, batch iteration, partitioning, output
  * shape) is real and is what a production decoder would plug into.
  *
  * Two paths:
  *  - [[decodeMeta]]: pure-column metadata extraction (codegen'd, preferred
  *    when the "decode" is expressible relationally);
  *  - [[decodeBatched]]: `mapPartitions` batch kernel — the Scala analog of a
  *    `mapInPandas` decoder; one JVM call per batch, payload bytes in, typed
  *    struct out.
  */
object Multimodal {

  private val NFrames = 4 // frameSample's windows per payload
  private val FrameLen = 24 // frameSample's window bytes

  final case class MediaMeta(pid: Long, n_bytes: Int, width: Int, height: Int,
      duration_ms: Int, thumb_md5: String)

  /** STUB decoder: deterministic fake dimensions from payload bytes.
    * A real implementation would call the image/audio codec here. */
  def fakeDecode(pid: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length
    val h = payload.foldLeft(17L)((a, b) => a * 31 + (b & 0xff)) // ??? real codec goes here
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(payload.take(64))
      .map("%02x".format(_)).mkString
    MediaMeta(pid, n, (math.abs(h) % 1920 + 1).toInt, (math.abs(h / 7) % 1080 + 1).toInt,
      (math.abs(h / 13) % 600000).toInt, md)
  }

  /** Column-only metadata path (oracle-checkable: length + md5 prefix). */
  def decodeMeta(pages: DataFrame): DataFrame =
    pages.select(col("pid"),
      length(col("html")).as("n_bytes"),
      md5(expr("substring(html, 1, 64)")).as("thumb_md5"),
      // frame-sample analog: fixed-offset byte slices of the payload
      md5(expr("substring(html, 33, 32)")).as("frame1_md5"))

  /** Frame sampling (q84): [[NFrames]] evenly-strided fixed-length byte windows
    * per binary payload — the video frame-sample plumbing as a relational
    * generator (explode over frame index; substring on the binary column
    * stays codegen'd). Payloads shorter than one frame are dropped (full
    * frames only, codec semantics). Oracle-checkable because the corpus is
    * ASCII (byte offsets == char offsets, locked by MultimodalSpec). */
  def frameSample(pages: DataFrame): DataFrame =
    pages.select(col("pid"), col("html"), length(col("html")).as("n_bytes"))
      .filter(col("n_bytes") >= FrameLen)
      .withColumn("k", explode(sequence(lit(0), lit(NFrames - 1))))
      .withColumn("off",
        (lit(1) + col("k") * floor((col("n_bytes") - lit(FrameLen)) / lit(NFrames.toDouble))
          .cast("int")).cast("int"))
      .select(col("pid"), col("k").cast("int").as("k"), col("off"),
        md5(expr(s"substring(html, off, $FrameLen)")).as("frame_md5"))

  /** Batch kernel path (mapPartitions — §2.10 preference (d), used only here
    * where a black-box codec genuinely can't be a Catalyst expression). */
  def decodeBatched(pages: DataFrame): Dataset[MediaMeta] = {
    val input = pages.select(col("pid"), col("html"))
    input.mapPartitions { rows =>
      rows.map(r => fakeDecode(r.getLong(0), r.getAs[Array[Byte]](1)))
    }(Encoders.product[MediaMeta])
  }
}
