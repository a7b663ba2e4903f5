package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (charter extension).
  *
  * Media assets travel as opaque `binary` columns plus typed metadata — the
  * lakehouse-standard layout for image/audio/video at 100 TB (content in the
  * row, never on the driver; partition by content hash so decode fans out
  * evenly). Image and audio decode run REAL JDK codecs in
  * [[RealCodecs]] (PNG via ImageIO, RIFF/WAV PCM16 parsed from the byte
  * layout) — the registry's mm1/mm3/mm4/mm5/mm6/mm7 all run real
  * encode→decode paths since round 9. The one remaining stand-in is
  * VIDEO ([[sampleFramesPortable]]): the JDK ships no video codec and the
  * container has no media libraries, so the per-frame decode is a
  * digest over the content bytes, clearly marked below; the
  * explode/metadata plumbing around it is the real contract.
  */
object Multimodal {

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = false),
    StructField("width", IntegerType), // image/video metadata
    StructField("height", IntegerType),
    StructField("duration_ms", LongType))) // audio/video metadata

  /** Frame sampling for video: one row per sampled frame at `everyMs`
    * steps of `duration_ms`; content decode is faked (a digest stands in
    * for the frame), the explode + binary plumbing is real. The per-frame
    * digest is md5 over `content || ':' || frame_ms` (bytes identical to
    * the SQL string concat when content is UTF-8 text), so the whole
    * video→frame-row expansion is replicable in the DuckDB oracle. */
  def sampleFramesPortable(assets: DataFrame, everyMs: Long): DataFrame =
    assets.where(col("duration_ms").isNotNull)
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))))
      .select(col("asset_id"), col("frame_ms"),
        substring(md5(concat(col("content"),
          encode(concat(lit(":"), col("frame_ms").cast("string")), "UTF-8"))),
          1, 16).as("frame_digest"))

  /** Give the text fixture a video shape: duration derived from content
    * length (deterministic, oracle-replicable). */
  def videoAssetsFromText(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(
      col(id).cast("long").as("asset_id"),
      lit("video").as("media_type"),
      encode(col(text), "UTF-8").as("content"),
      lit(640).as("width"), lit(480).as("height"),
      length(col(text)).cast("long").as("duration_ms"))

}
