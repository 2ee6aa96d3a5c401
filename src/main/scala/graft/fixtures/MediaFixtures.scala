package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.Multimodal

/** Deterministic media fixtures: audio, image and video corpora
  * synthesized from the sf tables and encoded with the library's own
  * codecs, so every media query has real bytes to decode.
  */
object MediaFixtures {

  /** Deterministic synth recipe for the WAV corpus: each doc becomes a
    * mono PCM16 clip whose samples are a pure integer function of
    * (doc_id, i) — so the DuckDB oracle can regenerate the SOURCE
    * samples and compute the same features the Spark side must recover
    * by PARSING THE BYTES. The encode→parse roundtrip is the thing
    * under test: the decoder sees only the binary payload.
    */
  private[graft] def synthWavMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = (50 + id % 50).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
        Multimodal.MediaRecord(id, Multimodal.Wav.encodePcm16(samples, rate), "audio/wav")
      }).toDF()
  }

  /** Deterministic synth recipe for the BMP corpus: per-doc dims sweep
    * widths 4..8 (row padding 0..3 bytes) and heights 3..6, with each
    * BGR channel a distinct integer function of (doc_id, y, x).
    */
  private[graft] def synthBmpMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val bgr = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val o = (y * w + x) * 3
            bgr(o) = ((id + 17L * y + 29L * x) % 256).toByte
            bgr(o + 1) = ((id + 23L * y + 31L * x) % 256).toByte
            bgr(o + 2) = ((id + 13L * y + 37L * x) % 256).toByte
            x += 1
          }
          y += 1
        }
        Multimodal.MediaRecord(id, Multimodal.Bmp.encode24(w, h, bgr), "image/bmp")
      }).toDF()
  }

  /** The q143/q143b corpus: synth WAVs with every 7th payload
    * truncated mid-fmt.
    */
  private[graft] def synthWavDlqMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = (50 + id % 50).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort)
        val wav = Multimodal.Wav.encodePcm16(samples, rate)
        val payload = if (id % 7 == 0) wav.take(21) else wav
        Multimodal.MediaRecord(id, payload, "audio/wav")
      }).toDF()
  }

  /** Deterministic synth recipe for the IMAGE near-dup corpus:
    * doc_ids group into quads (`base = doc_id / 4`); all four
    * variants share the base's dims and coarse pixel pattern `u`
    * (quantized to even gray levels 0,2,..,30), and differ only by a
    * +0/+1 low-bit perturbation `eps` — so within-group pairs sit a
    * few gradient-bit flips apart (a dHash near-dup) while
    * cross-group patterns decorrelate tens of bits. Channels are set
    * `b = g = r = v`, which makes the integer luma
    * `(299r + 587g + 114b)/1000` return `v` itself — the oracle can
    * replay gray values without modeling the channel weights.
    */
  private[graft] def synthImageDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      // spread the ENCODE (the expensive leg) across the cores — the
      // parquet scan is one partition at these sizes, and without this
      // every clip would be synthesized on a single task
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 4
        val w = (16 + base % 5).toInt
        val h = (12 + base % 3).toInt
        val bgr = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val u = (base * 37 + y * 11 + x * 29 + (x.toLong * y + base) % 13) % 16
            val eps = ((id % 4) * (1 + y * 5 + x * 3)) % 3 % 2
            val v = (u * 2 + eps).toByte
            val o = (y * w + x) * 3
            bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
            x += 1
          }
          y += 1
        }
        Multimodal.MediaRecord(id, Multimodal.Bmp.encode24(w, h, bgr), "image/bmp")
      }).toDF()
  }

  /** Deterministic synth recipe for the AUDIO near-dup corpus:
    * clips group into quads (base = doc_id / 4) sharing the base's
    * pseudorandom waveform; variants add a +variant bump on every
    * 5th sample — a sub-LSB-scale perturbation that flips only
    * near-equal frame-energy comparisons, so within-group fingerprints
    * sit a few bits apart while cross-group waveforms decorrelate.
    */
  private[graft] def synthAudioDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val n = (200 + base % 50).toInt
        val samples = Array.tabulate(n) { j =>
          val core = ((base * 7919L + j * 104729L) % 4096L) - 2048L
          val eps = (id % 4) * (if (j % 5 == 0) 1L else 0L)
          (core + eps).toShort
        }
        Multimodal.MediaRecord(id, Multimodal.Wav.encodePcm16(samples, 8000),
          "audio/wav")
      }).toDF()
  }

  /** q235 corpus: q219's clips with three quad members re-encoded as
    * FLAC on distinct wire paths — verbatim subframes, auto fixed
    * order at block size 64 (multi-frame), auto fixed with 4 rice
    * partitions at block size 128 — and one left as RIFF/WAV, so the
    * audio magic-byte dispatch is exercised in the same corpus.
    */
  private[graft] def synthMixedAudioDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthAudioDupMedia(spark, dir).as[Multimodal.MediaRecord]
      .mapPartitions(_.map { r =>
        if (r.media_id % 4 == 0) r
        else {
          val pcm = Multimodal.Wav.decode(r.payload).getOrElse(
            throw new IllegalStateException(s"fixture WAV must decode: ${r.media_id}"))
          val flac = (r.media_id % 4) match {
            case 1 => graft.ext.Flac.encode(pcm.samples, pcm.sampleRate,
              strategy = graft.ext.Flac.EncVerbatim)
            case 2 => graft.ext.Flac.encode(pcm.samples, pcm.sampleRate,
              blockSize = 64)
            case _ => graft.ext.Flac.encode(pcm.samples, pcm.sampleRate,
              blockSize = 128, partitionOrder = 2)
          }
          Multimodal.MediaRecord(r.media_id, flac, "audio/flac")
        }
      }).toDF()
  }

  /** q246 corpus: margin-designed quads for the LOSSY audio tier.
    * Each clip is a 61-frame amplitude staircase (levels 400/800/
    * 1200/1600, adjacent frames never equal — the per-frame energies
    * differ by ≥ 5% for every (level, frame-size) combination, far
    * above the codec's measured reconstruction error) and variants
    * boost one late frame by +800, nudging specific gradient bits.
    * Quad members ride four wires: WAV (variant 0), FLAC (1),
    * MPEG-1 Layer I (2), and MPEG-1 Layer II (3 — grouped
    * quantization, scfsi, the B.2b allocation table; the most common
    * 11172-3 wire in the wild). Unlike q235's lossless
    * legs, MPEG decode only approximates the samples — the fixture's
    * margins make [[graft.ext.Multimodal.Wav.energyHash60]] INVARIANT
    * through the loss (Mpeg1Spec pins it per clip), so the census
    * hash-checks against the closed form computed from the SOURCE
    * samples. The q231-JPEG discipline applied to audio.
    */
  private[graft] def synthMpegAudioDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val variant = (id % 4).toInt
        val n = (200 + base % 50).toInt
        val samples = Array.tabulate(n) { j =>
          val f = (j.toLong * 61 / n).toInt
          val boost = if (variant > 0 && f == 56 + variant) 800 else 0
          (400 * (1 + ((base * 7 + 3 * f) % 4)).toInt + boost).toShort
        }
        val (payload, mime) = variant match {
          case 0 => (Multimodal.Wav.encodePcm16(samples, 8000), "audio/wav")
          case 1 => (graft.ext.Flac.encode(samples, 8000, blockSize = 64),
            "audio/flac")
          case 2 => (graft.ext.Mpeg1.encode(samples), "audio/mpeg")
          case _ => (graft.ext.Mpeg1.encodeLayer2(samples), "audio/mpeg")
        }
        Multimodal.MediaRecord(id, payload, mime)
      }).toDF()
  }

  /** q230's corpus: a 1-in-16 doc sample in (original, one-window-
    * delayed) pairs — the delayed clip replays its partner's samples
    * shifted exactly one 100-sample window late (first window
    * duplicated). Pseudo-random samples make adjacent windows hash
    * far apart, so clip-grain matching misses the shift.
    */
  private[graft] def synthAudioSeqMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 32 == 0 || id % 32 == 1)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 32
        val delayed = id % 32 == 1
        val nw = (6 + base % 4).toInt
        val samples = Array.tabulate(nw * 100) { g =>
          val s = if (delayed && g >= 100) g - 100 else g
          (((base * 7919L + s * 104729L) % 4096L) - 2048L).toShort
        }
        Multimodal.MediaRecord(id,
          Multimodal.Wav.encodePcm16(samples, 8000), "audio/wav")
      }).toDF()
  }

  /** Deterministic synth recipe for the VIDEO near-dup corpus:
    * 11×6 frames (the dHash identity grid) in quads — the base
    * pattern varies per frame (`f` enters the modular term), the
    * variant adds the image recipe's frame-independent low-bit
    * perturbation, so keyframe fingerprints sit a few bits apart
    * within a quad and decorrelate across quads.
    */
  private[graft] def synthVideoDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val n = (8 + base % 5).toInt
        val frames = (0 until n).map { f =>
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (base * 37 + f * 7 + y * 11 + x * 29 +
                (x.toLong * y + f + base) % 13) % 16
              val eps = ((id % 4) * (1 + y * 5 + x * 3)) % 3 % 2
              val v = (u * 2 + eps).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** Column-level sequences for the JPEG near-dup corpus: 6 cluster
    * patterns over luma levels {40, 128, 216}, every adjacent pair a
    * STRICT step (Δ ≥ 88 — far above baseline-JPEG quantization
    * error at q ≥ 85, so every dHash comparison bit survives the
    * lossy roundtrip EXACTLY; ties would be codec-fragile). The
    * resulting 10-bit gradient patterns are pairwise ≥ 4 bits apart
    * → 60-bit fingerprints ≥ 24 apart across clusters, 0 within.
    */
  private val jpegClusterSeqs: Array[Array[Int]] = Array(
    Array(0, 1, 2, 0, 1, 2, 0, 1, 2, 0, 1), // pattern 731
    Array(2, 1, 0, 2, 1, 0, 2, 1, 0, 2, 1), // pattern 292
    Array(0, 2, 0, 2, 0, 2, 0, 2, 0, 2, 0), // pattern 341
    Array(2, 0, 2, 0, 2, 0, 2, 0, 2, 0, 2), // pattern 682
    Array(0, 1, 2, 1, 0, 1, 2, 1, 0, 1, 2), // pattern 819
    Array(2, 1, 0, 1, 2, 1, 0, 1, 2, 1, 0)) // pattern 204

  /** The shared 44×24 gray strip image for a doc id: 11 vertical
    * 4-px strips at luma `levels(seq(c))` (+ a global `shift` for the
    * dHash-shift-invariance variant), `b = g = r`. Factored out so
    * the JPEG (q223), PNG (q232) and mixed-dispatch (q233) corpora
    * are pixel-identical — one closed-form oracle covers all three.
    */
  private def stripImage(id: Long): Multimodal.BmpImage = {
    val levels = Array(40, 128, 216)
    val c = (((id / 4) * 37 + 11) % 6).toInt
    val shift = if (id % 4 == 1) 2 else 0
    val w = 44; val h = 24
    val bgr = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (levels(jpegClusterSeqs(c)(x / 4)) + shift).toByte
        val o = (y * w + x) * 3
        bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
        x += 1
      }
      y += 1
    }
    Multimodal.BmpImage(w, h, bgr)
  }

  /** Deterministic synth recipe for the JPEG near-dup corpus: each
    * doc becomes a 44×24 image of 11 vertical 4-px strips whose luma
    * levels follow the doc's CLUSTER sequence
    * (`c = (base·37 + 11) % 6`, `base = doc_id / 4`), gray channels
    * (`b = g = r`) so chroma is constant. The four quad variants
    * exercise four distinct encoder paths — 4:4:4 q90, 4:4:4 q85
    * with a +2 global brightness shift (dHash is shift-invariant),
    * 4:2:0 q90, and grayscale q90 — so one query pins the Huffman /
    * dequant / IDCT / upsample / color-convert machinery across
    * every supported mode. Strips are strict ±88-luma steps, so the
    * decoded fingerprint is BIT-EXACTLY the cluster pattern and the
    * oracle computes it in closed form.
    */
  private[graft] def synthJpegDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = stripImage(id)
        val jpg = (id % 4) match {
          case 0 => graft.ext.Jpeg.encode(img, quality = 90)
          case 1 => graft.ext.Jpeg.encode(img, quality = 85)
          case 2 => graft.ext.Jpeg.encode(img, quality = 90, subsample420 = true)
          case _ => graft.ext.Jpeg.encode(img, quality = 90, grayscale = true)
        }
        Multimodal.MediaRecord(id, jpg, "image/jpeg")
      }).toDF()
  }

  /** q232 corpus: the SAME strip images as q223, encoded as PNG
    * across four wire configurations per cluster quad — each quad
    * member exercises a distinct (color type, filter, DEFLATE block
    * mode) path of the from-scratch [[graft.ext.Png]] codec.
    */
  private[graft] def synthPngDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = stripImage(id)
        val png = (id % 4) match {
          case 0 => graft.ext.Png.encode(img, colorType = 2,
            filter = graft.ext.Png.FilterAdaptive,
            deflateMode = graft.ext.Png.DeflateDynamic)
          case 1 => graft.ext.Png.encode(img, colorType = 6,
            filter = 4, deflateMode = graft.ext.Png.DeflateFixed)
          case 2 => graft.ext.Png.encode(img, colorType = 3,
            filter = 0, deflateMode = graft.ext.Png.DeflateDynamic)
          case _ => graft.ext.Png.encode(img, colorType = 0,
            filter = 2, deflateMode = graft.ext.Png.DeflateStored)
        }
        Multimodal.MediaRecord(id, png, "image/png")
      }).toDF()
  }

  /** q233 corpus: one MIXED-FORMAT image corpus — each cluster quad
    * lands as raw BMP, baseline JPEG, palette PNG and grayscale
    * stored-block PNG, so the magic-byte dispatch
    * ([[graft.ext.Multimodal.decodeImage]]) and all three image
    * codecs are pinned by a single census. (The JPEG member is the
    * lossy one; the strip corpus's ±88-luma steps keep its
    * fingerprint bit-exact, the q223 argument.)
    */
  private[graft] def synthMixedImageDupMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = stripImage(id)
        val (bytes, mime) = (id % 4) match {
          case 0 => (Multimodal.Bmp.encode24(img.width, img.height, img.bgr), "image/bmp")
          case 1 => (graft.ext.Jpeg.encode(img, quality = 90), "image/jpeg")
          case 2 => (graft.ext.Png.encode(img, colorType = 3,
            filter = graft.ext.Png.FilterAdaptive,
            deflateMode = graft.ext.Png.DeflateDynamic), "image/png")
          case _ => (graft.ext.Png.encode(img, colorType = 0,
            filter = 1, deflateMode = graft.ext.Png.DeflateStored), "image/png")
        }
        Multimodal.MediaRecord(id, bytes, mime)
      }).toDF()
  }

  /** q242 corpus: tiny gray PNGs carrying planted tEXt metadata —
    * title / language / shard-index per doc, the caption-and-
    * provenance side-channel of an image-text corpus.
    */
  private[graft] def synthPngMetaMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, lang) =>
        val bgr = new Array[Byte](8 * 8 * 3)
        var p = 0
        while (p < 64) {
          val v = (((id + p) * 7) % 251).toByte
          bgr(p * 3) = v; bgr(p * 3 + 1) = v; bgr(p * 3 + 2) = v
          p += 1
        }
        val png = graft.ext.Png.encode(
          Multimodal.BmpImage(8, 8, bgr), colorType = 0,
          textMeta = Seq(
            ("Title", s"doc $id"),
            ("Language", Option(lang).getOrElse("")),
            ("Shard", (id % 7).toString)))
        Multimodal.MediaRecord(id, png, "image/png")
      }).toDF()
  }

  /** q238 corpus: clips with PLANTED SHOTS — a 1-in-16 doc sample
    * (frame-level oracle replay stays tractable), each clip
    * `n = 12 + base % 7` frames in shots of `2 + base % 3` frames;
    * frames within a shot are IDENTICAL (the q224 pattern keyed on
    * the shot index, not the frame index), so every within-shot
    * hamming is 0 and every boundary is a content change.
    */
  private[graft] def synthShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        def pattern(s: Int): Array[Byte] = {
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (base * 37 + s * 7 + y * 11 + x * 29 +
                (x.toLong * y + s + base) % 13) % 16
              val v = (u * 2).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        val frames = (0 until n).map(f => pattern(f / shotLen))
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** q239 corpus: clips built from a SHARED SCENE POOL — clip `base`
    * plays scene `(base + j) % 6` at shot `j` for `j < 5 + base % 3`
    * EXCEPT shots with `(base + j) % 4 == 1`, which render a
    * clip-PRIVATE scene (`1000 + base·8 + j`) no other clip has. Two
    * frames per shot, every frame rendered from the SCENE id alone,
    * so a shared scene is pixel-identical across clips and a private
    * one matches nothing: the shared-intro/outro shape video
    * training dedup actually hunts, with real negative cases (~1/4
    * of clips open on a private scene).
    */
  private[graft] def synthSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Int =
          if ((base + j) % 4 == 1) (1000 + base * 8 + j).toInt
          else ((base + j) % 6).toInt
        def pattern(scene: Int): Array[Byte] = {
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (scene * 31 + y * 11 + x * 29 +
                (x.toLong * y + scene) % 13) % 16
              val v = (u * 2).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        val frames = (0 until nShots * 2).map(f => pattern(sceneOf(f / 2)))
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }

  /** Margin-designed STRIP pattern for the compressed-video corpora
    * (the q223 JPEG discipline applied to the MPEG-1 wire): 11 strip
    * levels from {40, 128, 216} via an adjacent-distinct walk keyed on
    * `s` — every adjacent strip differs by ≥ 88 luma (≫ intra-quant
    * error at qscale ≤ 5), so each of the 10 dHash gradient bits
    * survives the lossy roundtrip EXACTLY. The 10-bit row pattern
    * replicates across all 6 dHash rows, so any two distinct patterns
    * are ≥ 6 fingerprint bits apart — strictly above every census
    * threshold (≤ 2, ≤ 3): near-dup relations reduce to deterministic
    * pattern EQUALITY the oracle replays in closed form.
    */
  private def mpegStripLevels(s: Long): Array[Int] = {
    val lev = new Array[Int](11)
    lev(0) = (s % 3).toInt
    var i = 1
    while (i < 11) {
      val d = ((s * (i + 3) + i.toLong * i) % 2).toInt
      lev(i) = (lev(i - 1) + 1 + d) % 3
      i += 1
    }
    lev
  }

  /** 44×24 gray frame of 11 vertical 4-px strips for walk key `s`. */
  private[graft] def mpegStripFrame(s: Long): Array[Byte] = {
    val lev = mpegStripLevels(s)
    val bgr = new Array[Byte](44 * 24 * 3)
    var y = 0
    while (y < 24) {
      var x = 0
      while (x < 44) {
        val v = (40 + 88 * lev(x / 4)).toByte
        val o = (y * 44 + x) * 3
        bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
        x += 1
      }
      y += 1
    }
    bgr
  }

  /** q250 corpus: q222's quad shape on the COMPRESSED wire — clips in
    * quads (`base = doc_id / 4`), frame `f` rendered from walk key
    * `base·97 + f·31`, each quad variant exercising a distinct encoder
    * profile (qscale 2/3/4, and variant 3 re-sends the quantizer via
    * the intra+quant macroblock type) with identical fingerprints.
    */
  private[graft] def synthMpegVideoMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 4
        val n = (6 + base % 5).toInt
        val frames = (0 until n).map(f => mpegStripFrame(base * 97 + f * 31))
        val variant = (id % 4).toInt
        val q = Array(3, 2, 4, 4)(variant)
        val wire = graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = q,
          mbQuantEvery = if (variant == 3) 2 else 0)
        Multimodal.MediaRecord(id, wire, "video/mpeg")
      }).toDF()
  }

  /** q251 corpus: q238's planted-shot shape on the compressed wire —
    * shots of `2 + base % 3` frames, frames within a shot identical
    * (walk key depends on the shot index only).
    */
  private[graft] def synthMpegShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map(f =>
          mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13))
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3), "video/mpeg")
      }).toDF()
  }

  /** q252 corpus: q239's shared-scene-pool shape on the compressed
    * wire — the walk key is a function of the SCENE id alone, so a
    * shared scene is pixel-identical across clips pre-encode and
    * fingerprint-identical post-decode.
    */
  private[graft] def synthMpegSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Long =
          if ((base + j) % 4 == 1) 1000L + base * 8 + j
          else (base + j) % 6
        val frames = (0 until nShots * 2).map(f =>
          mpegStripFrame(sceneOf(f / 2) * 53 + 17))
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3), "video/mpeg")
      }).toDF()
  }

  /** Global +`d` luma flicker (every BGR byte, clamped) — changes
    * every pel yet NO dHash gradient bit: the fingerprint compares
    * ADJACENT strip means, and a global shift preserves every strict
    * inequality. On an I+P wire this is the cheapest content that
    * forces the coded-residual macroblock path (cbp > 0) on every
    * odd frame while the closed-form strip oracle stays verbatim.
    */
  private def flicker(frame: Array[Byte], d: Int): Array[Byte] =
    frame.map(b => math.min(255, (b & 0xff) + d).toByte)

  /** q253 corpus: q251's shot shape re-encoded as a REAL I+P stream
    * (gopSize 3) with a +3 luma flicker — within-shot P frames code
    * small residuals, cross-shot cuts mid-GOP hit the intra-fallback
    * macroblocks, GOP heads stay I. Fingerprints are flicker- and
    * codec-invariant, so the q251 oracle replays verbatim.
    */
  private[graft] def synthMpegIppShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map { f =>
          val strip = mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 3, searchRange = 1), "video/mpeg")
      }).toDF()
  }

  /** q254 corpus: q252's shared-scene-pool shape on an I+P wire
    * (gopSize 2: every scene's second frame is a P picture coding
    * the flicker residual against its intra twin).
    */
  private[graft] def synthMpegIppSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Long =
          if ((base + j) % 4 == 1) 1000L + base * 8 + j
          else (base + j) % 6
        val frames = (0 until nShots * 2).map { f =>
          val strip = mpegStripFrame(sceneOf(f / 2) * 53 + 17)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 2, searchRange = 1), "video/mpeg")
      }).toDF()
  }

  /** q255 corpus: q251's shot shape on an I/P/B stream — anchors
    * every 2nd frame (bFrames 1, I at every 4th), the flickered odd
    * frames ride BIDIRECTIONAL pictures. Where a shot spans the
    * anchor pair the B macroblocks code small interpolated/forward
    * residuals; where a cut lands between anchors the backward
    * prediction wins (the next anchor already shows the new shot);
    * cuts inside a B with both anchors foreign fall back to intra.
    * Fingerprints stay flicker- and codec-invariant, so the q251
    * closed form replays verbatim — including the decoder's
    * transmission→display reorder, which any index slip would break.
    */
  private[graft] def synthMpegBShotMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map { f =>
          val strip = mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 4, searchRange = 1, bFrames = 1), "video/mpeg")
      }).toDF()
  }

  /** q256 corpus: q252's shared-scene-pool shape on an I/P/B wire —
    * every scene's flickered second frame is a B picture whose
    * forward anchor is its own scene (small forward residual) and
    * whose backward anchor is the NEXT scene (prediction must pick
    * the right direction or the fingerprint breaks).
    */
  private[graft] def synthMpegBSceneMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val nShots = (5 + base % 3).toInt
        def sceneOf(j: Int): Long =
          if ((base + j) % 4 == 1) 1000L + base * 8 + j
          else (base + j) % 6
        val frames = (0 until nShots * 2).map { f =>
          val strip = mpegStripFrame(sceneOf(f / 2) * 53 + 17)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
            gopSize = 4, searchRange = 1, bFrames = 1), "video/mpeg")
      }).toDF()
  }

  /** q257 corpus: MUXED assets — each clip is an ISO 11172-1 program
    * stream interleaving q251's shot-walk VIDEO (on the full I/P/B
    * wire) with a q246-style staircase AUDIO track on the MPEG-1
    * Layer I wire. Both inner fixtures keep their margin designs, so
    * both fingerprint families stay closed-form after the lossy
    * codecs; the container adds pack/system/packet framing, PES
    * timestamp headers, stuffing variation, and round-robin
    * interleave on top.
    */
  private[graft] def synthMpegMuxedMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 16 == 0)
      .repartition(32) // distribute the encode (single-partition scan upstream)
      .mapPartitions(_.map { id =>
        val base = id / 16
        val n = (12 + base % 7).toInt
        val shotLen = (2 + base % 3).toInt
        val frames = (0 until n).map { f =>
          val strip = mpegStripFrame(base * 97 + (f / shotLen).toLong * 31 + 13)
          if (f % 2 == 1) flicker(strip, 3) else strip
        }
        val videoEs = graft.ext.Mpeg1Video.encode(44, 24, frames, qscale = 3,
          gopSize = 4, searchRange = 1, bFrames = 1)
        val nS = (200 + base % 50).toInt
        val variant = (base % 4).toInt
        val samples = Array.tabulate(nS) { j =>
          val f = (j.toLong * 61 / nS).toInt
          val boost = if (variant > 0 && f == 56 + variant) 800 else 0
          (400 * (1 + ((base * 7 + 3 * f) % 4)).toInt + boost).toShort
        }
        val audioEs = graft.ext.Mpeg1.encode(samples)
        Multimodal.MediaRecord(id,
          graft.ext.Mpeg1System.muxAv(videoEs, audioEs, packetPayload = 512),
          "video/mp1s")
      }).toDF()
  }

  /** Deterministic synth recipe for the SEQUENCE-grain video corpus:
    * a 1-in-16 doc sample (the oracle's frame-level quadratic verify
    * must stay tractable at sf0.1) arranged in (original, delayed)
    * pairs — `doc_id % 32 == 1` clips replay their `doc_id - 1`
    * partner shifted one frame late (first frame duplicated). Frame
    * patterns vary FAST with the frame index (the q222 recipe's `f`
    * mixing), so adjacent frames hash far apart — exactly the
    * content where keyframe-grain matching misses a one-frame
    * offset.
    */
  private[graft] def synthVideoSeqMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .filter(id => id % 32 == 0 || id % 32 == 1)
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .mapPartitions(_.map { id =>
        val base = id / 32
        val delayed = id % 32 == 1
        val n = (8 + base % 5).toInt
        def pattern(sf: Int): Array[Byte] = {
          val bgr = new Array[Byte](11 * 6 * 3)
          var y = 0
          while (y < 6) {
            var x = 0
            while (x < 11) {
              val u = (base * 37 + sf * 7 + y * 11 + x * 29 +
                (x.toLong * y + sf + base) % 13) % 16
              val v = (u * 2).toByte
              val o = (y * 11 + x) * 3
              bgr(o) = v; bgr(o + 1) = v; bgr(o + 2) = v
              x += 1
            }
            y += 1
          }
          bgr
        }
        val frames = (0 until n).map { f =>
          pattern(if (delayed) math.max(f - 1, 0) else f)
        }
        Multimodal.MediaRecord(id,
          Multimodal.RawVideo.encode(11, 6, frames), "video/raw")
      }).toDF()
  }
}
