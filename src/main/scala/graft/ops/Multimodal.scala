package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns beside typed metadata; decode / feature-extract run as
  * batched per-partition stages (the Scala analog of `mapInPandas`).
  *
  * The actual media decode is STUBBED (this environment ships no
  * image/audio codecs): `fakeDecodeFeatures` derives a deterministic
  * feature vector from the bytes. The Spark-side contract — schema,
  * batch shape, partition-wise execution, column pruning of the heavy
  * binary column — is real and tested (MultimodalSpec).
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
                            width: Int, height: Int)
  final case class MediaFeatures(media_id: Long, kind: String, byte_len: Int,
                                 features: Array[Float])

  /** STUB decode: stands in for image/audio decoding. Deterministic:
    * feature i = scaled FNV hash of (bytes digest, i). A real deploy
    * swaps only this function (same batch shape). */
  def fakeDecodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val h = graft.core.Fnv1a.bytes(bytes)
    Array.tabulate(dim) { d =>
      var x = h ^ (d * 0x9e3779b97f4a7c15L)
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      ((x >>> 11).toDouble / (1L << 53).toDouble).toFloat
    }
  }

  /** Batched feature extraction over the binary column. Runs
    * partition-at-a-time like mapInPandas; only `bytes` + keys are
    * read (column pruning keeps other payloads on disk). */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaRow],
                      dim: Int = 8): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaFeatures(r.media_id, r.kind, r.bytes.length,
          fakeDecodeFeatures(r.bytes, dim))
      }
    }
  }

  /** Synthesize a deterministic media table from any text column —
    * test/bench input standing in for real blobs. */
  def synthesize(spark: SparkSession, df: DataFrame, idCol: String,
                 textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val kind = if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
        MediaRow(id, kind, bytes, (bytes.length % 640) + 1, (bytes.length % 480) + 1)
      }
  }

  /** Frame-sampling analog: slice the payload into fixed-size windows
    * and emit one row per sampled frame (explode on computed offsets —
    * the partitioning-safe pattern for per-frame work). */
  def sampleFrames(spark: SparkSession, media: Dataset[MediaRow],
                   frameBytes: Int, everyN: Int): DataFrame = {
    import spark.implicits._
    require(frameBytes > 0, "frameBytes must be positive")
    require(everyN > 0, "everyN must be positive")
    media.flatMap { r =>
      // ceil: the trailing PARTIAL frame is a real frame (floor
      // division silently dropped up to frameBytes-1 tail bytes)
      val n = math.max(1, (r.bytes.length + frameBytes - 1) / frameBytes)
      (0 until n by everyN).map { f =>
        val off = f * frameBytes
        val end = math.min(off + frameBytes, r.bytes.length)
        (r.media_id, f, end - off,
          fakeDecodeFeatures(java.util.Arrays.copyOfRange(r.bytes, off, end), 4))
      }
    }.toDF("media_id", "frame", "frame_bytes", "features")
  }
}
