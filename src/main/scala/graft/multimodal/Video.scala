package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Video-modality pipeline stages — the MP4 face of the multimodal family,
  * completing the image ([[Multimodal]]) / audio ([[Audio]]) set.
  *
  * The testdata has no video column, so [[withVideoPayload]] synthesizes a
  * REAL single-track gray8 MP4 per document ([[syntheticMp4]]): dimensions,
  * frame count, GOP structure, and every pixel are small integer functions
  * of the text bytes, making every decoded field DuckDB-derivable for the
  * oracle — while [[VideoCodec.decode]] still PARSES the ISO-BMFF container
  * (box walk, 16.16 tkhd dims, stts/stss/stsz/stsc/stco sample tables,
  * chunk-map frame slicing), so a mis-encode or mis-parse breaks the
  * byte-exact comparison. A real deployment reads actual payload bytes and
  * swaps an H.264/AV1 decoder behind the same signatures.
  *
  * All stages run in the streamed `mapPartitions` shape (the `mapInPandas`
  * analog documented on [[Multimodal.decodeFrames]]): map-side only, no
  * shuffle until the final presentation sort — the 100 TB cost model is
  * decode CPU, linear in corpus bytes; payload bytes never shuffle.
  */
object Video {

  val Timescale   = 1000
  val SampleDelta = 40 // 25 fps
  val Gop         = 4  // keyframe every 4 frames; scenes aligned with GOPs

  /** Deterministic gray8 clip for a document. With len = UTF-8 byte count
    * (empty text pads to one 0 byte):
    *   w = len%16+4 (4..19), h = len%12+4 (4..15), n = len%10+4 (4..13),
    *   keyframes at f ≡ 0 (mod 4),
    *   pixel(f, i) = (b(i mod len) + 40·(f div 4) + (f mod 4) + 3·i) mod 256.
    * Scene identity changes at each keyframe (the +40 jump); within a scene
    * consecutive frames differ by +1 everywhere (small "motion"), so frame
    * differencing separates cuts from motion by an order of magnitude — and
    * every pixel is one SQL expression for the oracle.
    */
  def syntheticMp4(text: String): Array[Byte] = {
    val bytes = if (text.isEmpty) Array[Byte](0) else text.getBytes("UTF-8")
    val len   = bytes.length
    val w     = len % 16 + 4
    val h     = len % 12 + 4
    val n     = len % 10 + 4
    val px    = w * h
    val frames = Array.tabulate(n) { f =>
      val fr    = new Array[Byte](px)
      val phase = 40 * (f / Gop) + (f % Gop)
      var i     = 0
      while (i < px) {
        fr(i) = (((bytes(i % len) & 0xff) + phase + 3 * i) % 256).toByte
        i += 1
      }
      fr
    }
    val sync = Array.range(0, n, Gop)
    VideoCodec.encodeMp4(w, h, Timescale, SampleDelta, frames, sync)
  }

  /** Attach a REAL video payload column; per-partition synth, payload bytes
    * never round-trip through the driver.
    */
  def withVideoPayload(spark: SparkSession, docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, syntheticMp4(text)) })
  }

  /** Parsed container metadata: total size, sample-entry codec 4cc, 16.16
    * dimensions, frame count, truncating duration in ms, keyframe count.
    */
  final case class VideoMeta(
      doc_id: Long, n_bytes: Long, codec: String, width: Int, height: Int,
      n_frames: Int, duration_ms: Long, n_keyframes: Int)

  def decodeMeta(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]): Dataset[VideoMeta] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        VideoCodec.tryDecode(bytes).map { v =>
          VideoMeta(id, bytes.length.toLong, v.codec, v.width, v.height,
            v.nFrames, v.durationMs, v.syncSamples.length)
        }
      }
    }
  }

  /** Keyframe thumbnail digest — the frame-sampling stage of a video-curation
    * pipeline (sample sync frames only; the stss table makes that a seek, not
    * a decode-all): keyframe count, total keyframe luma, and a frame-index-
    * weighted checksum so a wrong sample mapping breaks the hash even when
    * totals survive.
    */
  final case class KeyframeDigest(
      doc_id: Long, n_sampled: Int, luma_total: Long, luma_checksum: Long)

  def sampleKeyframes(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]): Dataset[KeyframeDigest] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        VideoCodec.tryDecode(bytes).map { v =>
          var total = 0L; var check = 0L
          v.syncSamples.foreach { s =>
            val f  = s - 1 // stss is 1-based
            val fr = v.frames(f)
            var sum = 0L; var i = 0
            while (i < fr.length) { sum += fr(i) & 0xff; i += 1 }
            total += sum
            check += sum * (f + 1)
          }
          KeyframeDigest(id, v.syncSamples.length, total, check)
        }
      }
    }
  }

  /** Scene-cut detection by frame differencing (the shot-boundary baseline):
    * sad(f) = Σ_i |p(f,i) − p(f−1,i)|; a cut fires when sad > threshold·px.
    * Integer-exact outputs: cut count, first cut frame index (−1 when none),
    * total motion (Σ sad), peak sad.
    */
  final case class SceneCuts(
      doc_id: Long, n_cuts: Int, first_cut: Int, total_motion: Long, max_sad: Long)

  def detectSceneCuts(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])], threshold: Int = 16): Dataset[SceneCuts] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        VideoCodec.tryDecode(bytes).map { v =>
          val px = v.width * v.height
          var cuts = 0; var first = -1; var motion = 0L; var maxSad = 0L
          var f = 1
          while (f < v.nFrames) {
            val a = v.frames(f - 1); val b = v.frames(f)
            var sad = 0L; var i = 0
            while (i < px) { sad += math.abs((b(i) & 0xff) - (a(i) & 0xff)); i += 1 }
            motion += sad
            if (sad > maxSad) maxSad = sad
            if (sad > threshold.toLong * px) {
              cuts += 1
              if (first < 0) first = f
            }
            f += 1
          }
          SceneCuts(id, cuts, first, motion, maxSad)
        }
      }
    }
  }

  /** Temporal-activity fingerprint — the dedup face of the video modality
    * (the audio sign-signature pattern on the luma timeline): bit (f−1) set
    * iff frame f's luma sum ≥ frame f−1's. Clips with the same coarse
    * brightness trajectory collide; Hamming banding applies unchanged for
    * near-miss pairs at scale.
    */
  final case class VideoFingerprint(doc_id: Long, fp: Long)

  /** One-pass decode score for the curation faces: geometry, scene cuts,
    * total motion, and the temporal fingerprint from a SINGLE decode of the
    * payload (the three separate stages each decode once; a curation pass
    * needs all of them, so this fuses the per-clip loops).
    */
  final case class ClipScore(
      doc_id: Long, px: Int, n_frames: Int, n_cuts: Int, total_motion: Long, fp: Long)

  def scoreClips(
      spark: SparkSession,
      payloads: Dataset[(Long, Array[Byte])],
      threshold: Int = 16
  ): Dataset[ClipScore] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        VideoCodec.tryDecode(bytes).map { v =>
          val px = v.width * v.height
          var cuts = 0; var motion = 0L; var fp = 0L
          var prevSum = 0L
          var f = 0
          while (f < v.nFrames) {
            val fr = v.frames(f)
            var s = 0L; var i = 0
            while (i < px) { s += fr(i) & 0xff; i += 1 }
            if (f > 0) {
              val a = v.frames(f - 1)
              var sad = 0L; var j = 0
              while (j < px) { sad += math.abs((fr(j) & 0xff) - (a(j) & 0xff)); j += 1 }
              motion += sad
              if (sad > threshold.toLong * px) cuts += 1
              if (s >= prevSum) fp |= 1L << (f - 1)
            }
            prevSum = s
            f += 1
          }
          ClipScore(id, px, v.nFrames, cuts, motion, fp)
        }
      }
    }
  }

  /** STREAMING video curation — the micro-batch face of
    * [[graft.queries.MediaVideo.curationVideo]]'s video stages (r14 verdict
    * #7: every other curation family has an incremental variant): each
    * arriving clip is decoded and motion-gated MAP-SIDE ([[scoreClips]]:
    * ≥1 scene cut and average motion ≥ `minAvgMotion` grey levels per pixel
    * per frame step), then deduplicated by temporal fingerprint with
    * first-wins semantics against (a) `corpusFps`, the PERSISTED fingerprint
    * set of the already-ingested corpus, and (b) every fingerprint already
    * admitted earlier in the stream, via `flatMapGroupsWithState` keyed by
    * fp. Within one micro-batch the smallest doc_id of a group wins, so an
    * id-ordered stream reproduces the batch face exactly (pinned in
    * VideoSpec).
    *
    * Scale shape: payload bytes never leave their input partition — only
    * the (id, fp, gate fields) score rows shuffle to the fp groups — and
    * BOTH the state and `corpusFps` are bounded by CONSTRUCTION at 2^12+1
    * entries (n ≤ 13 frames → 12 fingerprint bits), config-free model
    * state, which is why the corpus set can ride a closure/broadcast
    * rather than a join.
    */
  def curateStream(
      spark: SparkSession,
      clips: Dataset[(Long, Array[Byte])],
      corpusFps: Set[Long],
      threshold: Int = 16,
      minAvgMotion: Int = 6
  ): Dataset[ClipScore] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    scoreClips(spark, clips, threshold)
      .filter(c => c.n_cuts >= 1 &&
        c.total_motion >= minAvgMotion.toLong * c.px * (c.n_frames - 1))
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, ClipScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) { (fp, rows, state) =>
        if (corpusFps.contains(fp) || state.exists) Iterator.empty
        else {
          state.update(true)
          Iterator(rows.minBy(_.doc_id))
        }
      }
  }

  def fingerprint(spark: SparkSession, payloads: Dataset[(Long, Array[Byte])]): Dataset[VideoFingerprint] = {
    import spark.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        VideoCodec.tryDecode(bytes).map { v =>
          val sums = v.frames.map { fr =>
            var s = 0L; var i = 0
            while (i < fr.length) { s += fr(i) & 0xff; i += 1 }
            s
          }
          var fp = 0L
          var f  = 1
          while (f < sums.length) { if (sums(f) >= sums(f - 1)) fp |= 1L << (f - 1); f += 1 }
          VideoFingerprint(id, fp)
        }
      }
    }
  }
}
