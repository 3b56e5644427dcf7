package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads ride through the
 * pipeline as opaque `binary` columns with a typed metadata struct, so every
 * relational operator (dedup, filtering, joins, partitioning) works on them
 * unchanged, and only the decode/feature kernels touch the bytes.
 *
 * For IMAGES the engine now has real native codecs and perceptual hashes
 * — see [[ImageKernels]], [[Images]], and the image_meta/image_hash/
 * image_dedup YAML ops. The generic feature step here remains STUBBED for
 * audio/video (no such codec ships in this container) behind `decodeStub`,
 * a deterministic fake that derives "features" from the payload bytes. The
 * Spark-side contract (schema, batching via mapPartitions, partition
 * sizing) is real and tested; swap `decodeStub` for a JNI/codec call to
 * productionize.
 *
 * Scale notes: payload bytes dominate row size, so `targetPartitionMb`
 * repartitioning keeps tasks balanced when payloads are skewed; feature
 * extraction is mapPartitions so codec/model state initializes once per
 * partition, not per row.
 */
object Multimodal {

  /** The canonical multimodal schema fragment. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
    ))),
  ))

  final case class MediaFeatures(media_id: Long, n_bytes: Long, content_hash: Long,
                                 features: Array[Float])

  /** Deterministic fake decoder: a feature vector derived from byte
    * windows. STUB — replace with a real codec; everything around it
    * (batching, schema, partitioning) is the production shape. */
  private[functions] def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (bytes == null || bytes.isEmpty) return out
    var i = 0
    while (i < bytes.length) {
      val b = out(i % dim)
      out(i % dim) = b + (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    var k = 0
    while (k < dim) { out(k) = out(k) / math.max(1, bytes.length / dim); k += 1 }
    out
  }

  /** Feature extraction over binary payloads: one decoder init per
    * partition, rows processed in a tight loop (the mapInPandas-equivalent
    * batch shape in Scala). */
  def extractFeatures(df: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    import df.sparkSession.implicits._
    df.select(col("media_id").cast(LongType), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder/model initialization happens HERE once
        it.map { case (id, bytes) =>
          val n = if (bytes == null) 0L else bytes.length.toLong
          val h = fnv64(bytes)
          MediaFeatures(id, n, h, decodeStub(bytes, dim))
        }
      }
  }

  /** Frame sampling for video-ish payloads: cut `n` evenly-spaced windows of
    * `frameBytes` from the payload — the plumbing for keyframe extraction
    * (explode → one row per frame, downstream ops are per-frame). */
  def sampleFrames(df: DataFrame, n: Int, frameBytes: Int = 1024): DataFrame = {
    val total = length(col("content"))
    val idx = sequence(lit(0), lit(n - 1))
    df.select(col("*"),
      posexplode(transform(idx, i =>
        col("content").substr(
          (i * greatest((total - frameBytes) / math.max(1, n - 1), lit(1)) + 1).cast(IntegerType),
          lit(frameBytes)))).as(Seq("frame_no", "frame")))
  }

  /** Exact payload dedup: hash-groupBy over the binary content — the same
    * shape as Dedup.exactGroups, md5 computed without materializing
    * payloads on the driver. */
  def exactPayloadGroups(df: DataFrame): DataFrame =
    df.groupBy(md5(col("content")).as("content_md5"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  private def fnv64(bytes: Array[Byte]): Long = {
    if (bytes == null) return 0L
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }
}
