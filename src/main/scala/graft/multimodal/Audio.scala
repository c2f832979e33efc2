package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audio-modality pipeline stages — the WAV face of the multimodal family.
  *
  * The testdata has no audio column, so [[withAudioPayload]] synthesizes a
  * REAL PCM16 WAV per document ([[syntheticWav]]): sample count and sample
  * values are small integer functions of the text bytes, making every decoded
  * field DuckDB-derivable for the oracle, while [[AudioCodec.decode]] still
  * PARSES the RIFF container (header walk, fmt validation, PCM16LE data) so
  * a mis-encode or mis-parse breaks the byte-exact comparison. A real
  * deployment reads actual payload bytes and swaps richer codecs behind the
  * same signatures.
  *
  * All stages run in the streamed `mapPartitions` shape (the `mapInPandas`
  * analog documented on [[Multimodal.decodeFrames]]): map-side only, no
  * shuffle until the final presentation sort — the 100 TB cost model is
  * decode CPU, linear in corpus bytes.
  */
object Audio {

  val SampleRate = 8000

  /** Deterministic PCM16 clip for a document: n = len % 240 + 16 samples
    * (16..255 — sub-frame to multi-frame variety), sample k =
    * ((b(k mod len) + 37·k) mod 256 − 128)·256 + b(k mod len). The 37·k
    * phase walks the high byte through all residues regardless of the text's
    * byte distribution (ASCII alone would pin every sample negative), so the
    * signal crosses zero constantly and energy/zero-crossing/peak features
    * are non-trivial; range is exactly int16 ([−32768, 32767]). Empty text
    * pads to a single 0 byte (same rule as [[Multimodal.syntheticPpm]]).
    */
  def syntheticWav(text: String): Array[Byte] = {
    val bytes = if (text.isEmpty) Array[Byte](0) else text.getBytes("UTF-8")
    val n     = bytes.length % 240 + 16
    val s     = new Array[Short](n)
    var k     = 0
    while (k < n) {
      val b = bytes(k % bytes.length) & 0xff
      s(k) = (((b + 37 * k) % 256 - 128) * 256 + b).toShort
      k += 1
    }
    AudioCodec.encodeWav(SampleRate, s)
  }

  /** Attach a REAL audio payload column; per-partition synth, payload bytes
    * never round-trip through the driver.
    */
  def withAudioPayload(spark: SparkSession, docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, syntheticWav(text)) })
  }

  /** Decoded-clip metadata: container size, parsed sample rate, sample count,
    * truncating-division duration in ms.
    */
  final case class AudioMeta(doc_id: Long, n_bytes: Long, sample_rate: Int, n_samples: Int, duration_ms: Long)

  def decodeMeta(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]): Dataset[AudioMeta] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        AudioCodec.tryDecode(bytes).map { w =>
          AudioMeta(id, bytes.length.toLong, w.sampleRate, w.samples.length,
            w.samples.length.toLong * 1000L / w.sampleRate)
        }
      }
    }
  }

  /** Whole-clip integer features — the audio screening pass (silence / clip /
    * activity gates of a speech-curation pipeline): frame count (64-sample
    * full frames), total absolute amplitude, zero crossings (sign flips under
    * `x < 0`), peak amplitude. Integers only — bit-exact across engines.
    */
  final case class AudioFeatures(
      doc_id: Long, n_frames: Int, energy_sum: Long, zero_cross: Int, peak_abs: Int)

  def extractFeatures(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])], frame: Int = 64): Dataset[AudioFeatures] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        AudioCodec.tryDecode(bytes).map { w =>
          var energy = 0L; var zc = 0; var peak = 0
          var k = 0
          while (k < w.samples.length) {
            val v = w.samples(k).toInt
            val a = math.abs(v)
            energy += a
            if (a > peak) peak = a
            if (k > 0 && ((w.samples(k - 1) < 0) != (v < 0))) zc += 1
            k += 1
          }
          AudioFeatures(id, w.samples.length / frame, energy, zc, peak)
        }
      }
    }
  }

  /** Resample-stage digest: output length, sum, and position-weighted
    * checksum of the linearly-resampled signal ([[AudioCodec.resampleLinear]]
    * — truncating integer interpolation, replayable in SQL). The checksum
    * weights by (j+1) so a permuted or shifted output breaks the hash even
    * when the sum survives.
    */
  final case class ResampledAudio(doc_id: Long, n_out: Int, out_sum: Long, out_checksum: Long)

  /** Acoustic fingerprint row: the 40-bit sign signature of the resampled
    * clip (bit j set iff resampled sample j ≥ 0 — a shape descriptor robust
    * to amplitude scaling), plus the size of its hash-equality group.
    */
  final case class AudioFingerprint(doc_id: Long, fp: Long)

  /** Audio NEAR-DUP fingerprint — the audio face of the dedup family (the
    * aHash pattern applied to waveforms): decode → fixed-length linear
    * resample ([[AudioCodec.resampleLinear]]) → one sign bit per output
    * sample, packed into a single long. Clips with identical coarse shape
    * collide; small edits flip few bits (SimHash Hamming banding applies
    * unchanged for near-miss pairs at scale).
    */
  def fingerprint(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])], m: Int = 40): Dataset[AudioFingerprint] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        AudioCodec.tryDecode(bytes).map { w =>
          val out = AudioCodec.resampleLinear(w.samples, m)
          var fp = 0L
          var j  = 0
          while (j < out.length) { if (out(j) >= 0) fp |= 1L << j; j += 1 }
          AudioFingerprint(id, fp)
        }
      }
    }
  }

  def resampleClips(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])], m: Int = 40): Dataset[ResampledAudio] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        AudioCodec.tryDecode(bytes).map { w =>
          val out = AudioCodec.resampleLinear(w.samples, m)
          var s = 0L; var c = 0L
          var j = 0
          while (j < out.length) { s += out(j); c += out(j).toLong * (j + 1); j += 1 }
          ResampledAudio(id, out.length, s, c)
        }
      }
    }
  }
}
