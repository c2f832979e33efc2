package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / frame-sample
  * stages.
  *
  * The decode path is REAL: [[ImageCodec]] parses binary PPM (P6) and 24-bit
  * BMP — header, dimensions, pixel raster — with no external libraries. The
  * testdata has no image column, so [[withImagePayload]] synthesizes a valid
  * PPM per document with dimensions derived from the text (making the decoded
  * fields DuckDB-derivable for the oracle); a real deployment reads actual
  * payload bytes and swaps richer codecs behind the same `decode` signature.
  */
object Multimodal {

  /** Decoded-media metadata row. */
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      frame_hashes: Seq[Long]
  )

  /** Attach a binary payload column (here: the utf-8 text bytes stand in for
    * media bytes — the schema/partitioning is what's under test).
    */
  def withPayload(docs: DataFrame, payloadFrom: String = "text"): DataFrame =
    docs.withColumn("payload", col(payloadFrom).cast("binary"))

  /** Deterministic PPM payload for a document: dimensions are small functions
    * of the text length (so the oracle can derive them in SQL), pixels are
    * the text bytes cycled over the raster. A REAL image: `ImageCodec.decode`
    * round-trips it by parsing, not by trusting the formulas.
    */
  def syntheticPpm(text: String): Array[Byte] = {
    val bytes = if (text.isEmpty) Array[Byte](0) else text.getBytes("UTF-8")
    val w     = bytes.length % 64 + 1
    val h     = bytes.length % 48 + 1
    val pix   = new Array[Byte](3 * w * h)
    var i     = 0
    while (i < pix.length) { pix(i) = bytes(i % bytes.length); i += 1 }
    ImageCodec.encodePpm(w, h, pix)
  }

  /** Attach a REAL image payload column (synthesized PPM over the text bytes
    * — see [[syntheticPpm]]). Done per-partition in the typed path so payload
    * bytes never round-trip through the driver.
    */
  def withImagePayload(spark: SparkSession, docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, syntheticPpm(text)) })
  }

  /** Column-only metadata extraction (no decode needed): byte length, fake
    * dimensions, md5 checksum. Fully codegen'd; this is the path that must
    * stay cheap at 100 TB because it touches every payload.
    */
  def extractMeta(withPayload: DataFrame): DataFrame =
    withPayload
      .withColumn("n_bytes", length(col("payload")).cast("bigint"))
      .withColumn("fake_width", (col("n_bytes") % 640 + 1).cast("int"))
      .withColumn("checksum", md5(col("payload")))

  /** Resize-stage output: target dims (clamped to source) + the resized
    * raster's byte sum — a scalar digest of the ACTUAL resampled pixels, so
    * the oracle's formula replay catches a wrong NN mapping, not just wrong
    * dimensions.
    */
  final case class ResizedMeta(doc_id: Long, out_width: Int, out_height: Int, pixel_sum: Long)

  /** Decode → nearest-neighbor resize ([[ImageCodec.resizeNearest]]) via the
    * same streamed `mapPartitions` shape as [[decodeFrames]] — the thumbnail
    * stage of an image-curation pipeline, running the REAL codec both ways
    * (parse then resample). Targets clamp to the source so tiny images pass
    * through unscaled.
    */
  def resizeImages(
      spark: SparkSession, payloads: Dataset[(Long, Array[Byte])],
      targetW: Int = 16, targetH: Int = 12
  ): Dataset[ResizedMeta] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        ImageCodec.tryDecode(bytes).map { img =>
          val out = ImageCodec.resizeNearest(img,
            math.min(targetW, img.width), math.min(targetH, img.height))
          var s = 0L
          var i = 0
          while (i < out.pixels.length) { s += out.pixels(i) & 0xff; i += 1 }
          ResizedMeta(id, out.width, out.height, s)
        }
      }
    }
  }

  /** Feature row: per-channel byte sums of the decoded raster. */
  final case class ChannelStats(doc_id: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Decode → per-channel statistics ([[ImageCodec.channelSums]]) — the
    * feature-extraction stage (brightness/color screening), same streamed
    * partition shape.
    */
  def channelStats(
      spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]
  ): Dataset[ChannelStats] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        ImageCodec.tryDecode(bytes).map { img =>
          val (r, g, b) = ImageCodec.channelSums(img)
          ChannelStats(id, r, g, b)
        }
      }
    }
  }

  /** Average-hash row: two 32-bit halves of the 8×8 aHash (two columns so
    * the top bit never hits BIGINT sign trouble in either engine).
    */
  final case class AHash(doc_id: Long, ahash_hi: Long, ahash_lo: Long)

  /** Perceptual average-hash (aHash) — image NEAR-DUP detection, the
    * multimodal face of the dedup family: decode → 8×8 nearest-neighbor
    * downsample ([[ImageCodec.resizeNearest]]) → per-pixel luminance sum
    * (r+g+b, no division — integers stay exact) → one bit per pixel by
    * comparison against the 64-pixel MEAN (scaled: 64·lum > total), packed
    * as two 32-bit halves. Identical images hash identically; small edits
    * flip few bits (Hamming-banded candidate pairs at scale — the SimHash
    * machinery applies unchanged).
    */
  def averageHash(
      spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]
  ): Dataset[AHash] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        ImageCodec.tryDecode(bytes).map { img =>
          val small = ImageCodec.resizeNearest(img,
            math.min(8, img.width), math.min(8, img.height))
          val n   = small.width * small.height
          val lum = new Array[Long](n)
          var tot = 0L
          var i = 0
          while (i < n) {
            val o = 3 * i
            lum(i) = (small.pixels(o) & 0xff).toLong +
              (small.pixels(o + 1) & 0xff) + (small.pixels(o + 2) & 0xff)
            tot += lum(i)
            i += 1
          }
          var hi = 0L; var lo = 0L
          i = 0
          while (i < n) {
            // bit set iff pixel luminance strictly above the mean, scaled
            // to integers: n*lum > tot  <=>  lum > tot/n.
            if (n * lum(i) > tot) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
            i += 1
          }
          AHash(id, hi, lo)
        }
      }
    }
  }

  /** Decode via typed `mapPartitions` — the Scala analog of a `mapInPandas`
    * UDF: one codec instance per partition, rows streamed through it, output
    * schema declared by the `MediaMeta` encoder. Corrupt
    * payloads are SKIPPED (`tryDecode` → None), the corpus-pipeline
    * convention for undecodable media.
    */
  def decodeFrames(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import spark.implicits._
    payloads
      .mapPartitions { rows =>
        // Per-partition codec init happens once here; payloads then stream
        // through one at a time, so a partition holds one payload in memory.
        rows.flatMap { case (id, bytes) =>
          ImageCodec.tryDecode(bytes).map { img =>
            MediaMeta(id, bytes.length.toLong, img.width, img.height, ImageCodec.frameHashes(img))
          }
        }
      }
  }
}
