package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.{Dedup, Multimodal}
import graft.stream.Jobs
import graft.queries.Shared.{tempDir, writeSliceFilesByExpr}
import graft.fixtures.DocFixtures.{synthGzipDocs, synthTarGzArchives,
  synthWarcDocs, synthZipArchives}
import graft.fixtures.MediaFixtures.{synthAudioDupMedia, synthAudioSeqMedia,
  synthBmpMedia, synthImageDupMedia, synthJpegDupMedia,
  synthMixedAudioDupMedia, synthMixedImageDupMedia, synthMpegAudioDupMedia,
  synthMpegBSceneMedia, synthMpegBShotMedia, synthMpegIppSceneMedia,
  synthMpegIppShotMedia, synthMpegMuxedMedia, synthMpegSceneMedia,
  synthMpegShotMedia, synthMpegVideoMedia, synthPngDupMedia,
  synthPngMetaMedia, synthSceneMedia, synthShotMedia, synthVideoDupMedia,
  synthVideoSeqMedia, synthWavDlqMedia, synthWavMedia}

/** Media: `Multimodal` decoders and the codecs (WAV, BMP, PNG, JPEG,
  * FLAC, MPEG-1 audio/video/system, gzip, tar, zip, WARC) — decode,
  * near-duplicate census, shot and scene detection.
  */
object MediaQueries {

  /** Multimodal metadata: binary payload + in-plan byte length/sha256. */
  def q24MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text", "text/plain")
      .select(col("media_id"), col("mime"), col("n_bytes"), col("sha256"))
      .orderBy(col("media_id"))

  /** Stubbed decode/feature-extract over partitions (plumbing is real,
    * decoder is a deterministic fake). The typed `Dataset[MediaFeatures]`
    * (with the raw `array<float>` features) is the library surface; the
    * oracle-facing projection recovers the decoder's integer byte
    * histogram (`round(f_j * n_bytes)` inverts the float normalization
    * exactly — counts < 2^24 are lossless in a float) so every value is
    * hash-stable and reproducible in SQL.
    */
  def q25MultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(
      Tables.documents(spark, dir), "doc_id", "text", "text/plain")
    val decoded = Multimodal.decodeFeatures(spark, media, partitions = 8).toDF()
    val histCols = (0 until Multimodal.ByteHistogram.featureDim).map(j =>
      round(element_at(col("features"), j + 1) * col("n_bytes"))
        .cast(LongType).as(s"f$j"))
    decoded
      .select(Seq(col("media_id"), col("mime"), col("n_bytes")) ++ histCols: _*)
      .orderBy(col("media_id"))
  }

  /** REAL WAV decode: synth clips → RIFF bytes → chunk-walking parse →
    * integer-exact audio features (duration, peak, energy, zero
    * crossings). The oracle recomputes every feature from the synth
    * recipe directly — a parser that misreads the header, the LIST
    * chunk, or sample byte order hash-mismatches immediately. Decode
    * is the disclosed per-partition imperative tier (real parser, not
    * the compressed-codec stub).
    */
  def q140WavDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.wavFeatures(spark, synthWavMedia(spark, dir), partitions = 8)
      .toDF()
      .orderBy(col("media_id"))

  /** REAL BMP decode + nearest-neighbor resize: synth images → padded
    * bottom-up BMP bytes → parse → per-channel sums plus the
    * half-scale resize's dims and gray sum. The oracle regenerates
    * the pixels and keeps the (y%2=0, x%2=0) sampling grid — so both
    * the padding/row-order handling AND the resize arithmetic are
    * hash-pinned.
    */
  def q141BmpDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.bmpFeatures(spark, synthBmpMedia(spark, dir), partitions = 8)
      .toDF()
      .orderBy(col("media_id"))

  /** STREAMING media ingest ([[graft.stream.Jobs.runMediaDecodeStream]]):
    * q143's corpus arrives in 4 micro-batches of binary payloads; each
    * batch is decoded by the REAL WAV parser and dual-written — parsed
    * features to the good path, corrupt rows to the DLQ (the O-61
    * routing shape over binary). The union of both sinks reassembles
    * q143's audit exactly, so the stream shares its oracle: the
    * multimodal × streaming intersection, hash-checked.
    */
  def q143bMediaStream(spark: SparkSession, dir: String): DataFrame = {
    val media = synthWavDlqMedia(spark, dir)
    val tmp = tempDir("graft-q143b")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    Jobs.runMediaDecodeStream(spark, in, schema, s"$tmp/good", s"$tmp/dlq", s"$tmp/cp",
      filesPerTrigger = 2)
    val good = spark.read.parquet(s"$tmp/good")
      .select(col("media_id"), col("n_bytes"), col("n_samples"))
    val dlqSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = true)))
    val dlq = spark.read.schema(dlqSchema).parquet(s"$tmp/dlq")
      .select(col("media_id"), col("n_bytes"), lit(null).cast(LongType).as("n_samples"))
    good.unionByName(dlq)
      .select(col("media_id"), col("n_bytes"),
        col("n_samples").isNotNull.as("ok"), col("n_samples"))
      .orderBy(col("media_id"))
  }

  /** Corrupt-media DLQ split (the O-07 schema-enforce discipline on
    * binary payloads): every 7th synth WAV is truncated mid-fmt before
    * decode, and the audit reports per-row byte length, decode verdict,
    * and recovered sample count (null where parsing failed). The
    * oracle re-derives ALL THREE from the recipe — including the
    * encoder's exact container size (68 + 2n bytes) — so both the
    * writer's byte layout and the parser's corrupt-safety are pinned.
    */
  def q143MediaDlq(spark: SparkSession, dir: String): DataFrame = {
    val media = synthWavDlqMedia(spark, dir)
    val decoded = Multimodal.wavFeatures(spark, media, partitions = 8).toDF()
      .select(col("media_id"), col("n_samples"))
    media
      .select(col("media_id"), octet_length(col("payload")).as("n_bytes"))
      .join(decoded, Seq("media_id"), "left_outer")
      .select(
        col("media_id"), col("n_bytes"),
        col("n_samples").isNotNull.as("ok"),
        col("n_samples"))
      .orderBy(col("media_id"))
  }

  /** IMAGE near-dup dedup — the multimodal × dedup intersection:
    * synth images (planted perturbed-copy quads) → REAL BMP decode →
    * [[graft.ext.Multimodal.Bmp.dhash60]] perceptual fingerprint →
    * [[graft.ext.Dedup.hammingNearDupPairs]] banded Hamming join
    * (4 × 15-bit pigeonhole chunks, distance ≤ 3) → per-image
    * neighbor census + min-id keep verdict. The oracle regenerates
    * gray values ONLY at the 11×6 sampled grid positions, assembles
    * the 60 gradient bits with shifts, and takes the quadratic
    * `bit_count(xor) ≤ 3` pairs — so the encode → parse → luma →
    * resize-sample → bit-pack → banded-join chain is hash-pinned end
    * to end. At 100 TB the pair surface is the banded join (never
    * corpus²) and only the decode pass touches payload bytes.
    */
  def q202ImageNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.bmpDHashes(spark, synthImageDupMedia(spark, dir), partitions = 8)
        .toDF())

  /** Shared tail of q202/q209: banded Hamming pairs over a dHash
    * fingerprint table → per-image neighbor census + min-id keep
    * verdict.
    */
  private def dhashNearDupCensus(fps: DataFrame): DataFrame = {
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      fps.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 3)
    val sym = pairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val nbrs = sym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_nbrs"), min(col("nbr")).as("min_nbr"))
    fps.join(nbrs, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("width"), col("height"), col("fp"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("media_id")).as("keep"))
      .orderBy(col("media_id"))
  }

  /** STREAMING image fingerprint-index ingest
    * ([[graft.stream.Jobs.runDHashIndexStream]]): q202's corpus
    * arrives as 4 micro-batches of BINARY payloads; each batch is
    * decoded once (real BMP parse → dHash) and appends its
    * fingerprint rows under an idempotent `batch_id=` partition — the
    * payload bytes are never read again. The near-dup census then
    * runs over the MAINTAINED relational index and must reproduce
    * q202's from-scratch result exactly (decode is deterministic, so
    * streamed index ≡ batch fingerprints row-for-row) — one oracle
    * for both, the multimodal × streaming × dedup intersection.
    */
  def q209StreamImageIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthImageDupMedia(spark, dir)
    val tmp = tempDir("graft-q209")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    dhashNearDupCensus(
      Jobs.runDHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** CROSS-MODAL paired dedup — the LAION-style (image, caption)
    * verdict: each doc_id is a pair of q202's synth image and its
    * caption (the doc text), and a pair is a duplicate of another
    * when EITHER side matches — image dHash within Hamming ≤ 3
    * (the guarded banding) OR caption simhash within ≤ 3 (lossless
    * pigeonhole). Survivorship = keep iff no flagged neighbor with
    * a smaller pair id. The two failure cases web-scale paired
    * corpora actually contain both occur here by construction:
    * q202's quads are image-same/caption-different (re-encoded image
    * under a new caption), and q13b's natural text near-dups are
    * caption-same/image-different (same alt-text on a different
    * image) — the per-side neighbor counts in the output separate
    * them, and the oracle replays both fingerprint families and the
    * OR-union verdict exactly.
    */
  def q226CrossModalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // q226's own image recipe: UNIQUE per-doc patterns except the
    // planted twin pairs (doc_id % 16 ∈ {0,1} share their pair's
    // base pattern, one low-bit apart) — unlike q202's all-quads
    // corpus, most images here have NO image neighbor, so the
    // caption-side near-dups surface as genuine
    // caption-same/image-different verdicts
    val media = docs.select(col("doc_id"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[Long]
      .mapPartitions(_.map { id =>
        val base = if (id % 16 <= 1) id - id % 16 else id
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
    val imgFps = Multimodal.bmpDHashes(spark, media, partitions = 8).toDF()
      .select(col("media_id").as("pair_id"), col("fp"))
    // each pair list feeds its per-side neighbor count AND the OR-union
    // verdict (the sym legs double that again) — materialize the two
    // expensive banded self-joins once; the pair lists are tiny
    val imgPairs = Dedup.hammingNearDupPairs(imgFps, "pair_id", "fp",
      bits = 60, maxDistance = 3).select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val capPairs = Dedup.simhashNearDupPairs(
      docs.select(col("doc_id"), col("text")), "doc_id", "text",
      bits = 60, maxDistance = 3).select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    def sym(p: DataFrame): DataFrame =
      p.select(col("id_a").as("pair_id"), col("id_b").as("nbr"))
        .unionByName(p.select(col("id_b").as("pair_id"), col("id_a").as("nbr")))
    val isym = sym(imgPairs); val csym = sym(capPairs)
    val asym = isym.unionByName(csym).distinct()
    docs.select(col("doc_id").as("pair_id"))
      .join(isym.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_img_nbrs")), Seq("pair_id"), "left_outer")
      .join(csym.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_cap_nbrs")), Seq("pair_id"), "left_outer")
      .join(asym.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_dup_nbrs"), min(col("nbr")).as("min_nbr")),
        Seq("pair_id"), "left_outer")
      .select(col("pair_id"),
        coalesce(col("n_img_nbrs"), lit(0L)).as("n_img_nbrs"),
        coalesce(col("n_cap_nbrs"), lit(0L)).as("n_cap_nbrs"),
        coalesce(col("n_dup_nbrs"), lit(0L)).as("n_dup_nbrs"),
        col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("pair_id")).as("keep"))
      .orderBy(col("pair_id"))
  }

  /** AUDIO near-dup dedup ([[graft.ext.Multimodal.Wav.energyHash60]]
    * + the banded Hamming machinery): synth clips (planted perturbed
    * quads) → REAL WAV parse → 61-frame integer energy-gradient
    * fingerprint → pigeonhole pairs ≤ 3 → neighbor census + min-id
    * keep. The acoustic twin of q202: the oracle regenerates
    * samples, frame assignment (`j·61 div n`), exact Σs² energies,
    * gradient bits, and the quadratic verify — the whole encode →
    * chunk-walk parse → fingerprint chain hash-pinned.
    */
  def q219AudioNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupCensus(Multimodal.wavEnergyHashes(spark,
      synthAudioDupMedia(spark, dir), partitions = 8).toDF())

  /** FLAC near-dup dedup — the compressed-AUDIO leg made REAL: q219's
    * corpus with three quad members on the FLAC wire (from-scratch
    * [[graft.ext.Flac]]: STREAMINFO → CRC-8-checked frame headers →
    * rice-coded fixed-predictor subframes → CRC-16 frame verify) and
    * one on RIFF, dispatched by magic bytes into the SAME
    * energy-gradient fingerprint space. FLAC is lossless, so the
    * decoded samples — and therefore the fingerprints, the pairs,
    * and the census — are IDENTICAL to q219's: the oracle is q219's
    * closed form verbatim. A decoder that mis-rices, mis-predicts,
    * mis-frames, or mis-CRCs any wire variant scatters fingerprints
    * and fails the hash.
    */
  def q235FlacNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupCensus(Multimodal.audioEnergyHashes(spark,
      synthMixedAudioDupMedia(spark, dir), partitions = 8).toDF())

  /** MPEG near-dup dedup — the LOSSY audio leg made real: half of
    * every quad rides the from-scratch MPEG-1 Layer I wire
    * ([[graft.ext.Mpeg1]]: CRC-16-checked headers → Layer I bit
    * allocation → scalefactor requantization → 32-band polyphase
    * synthesis → gapless trim), dispatched by the 0xFFE sync into the
    * SAME energy-gradient fingerprint space as WAV/FLAC. The oracle
    * is the census closed form on the SOURCE samples — a decoder
    * whose reconstruction drifts past the fixture's designed margins
    * (or mis-frames, mis-trims, mis-requantizes) scatters
    * fingerprints and fails the hash.
    */
  def q246MpegNearDup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupCensus(Multimodal.audioEnergyHashes(spark,
      synthMpegAudioDupMedia(spark, dir), partitions = 8).toDF())

  /** STREAMING ingest over the LOSSY wire: q246's WAV/FLAC/MPEG corpus
    * arrives as 4 slices / 2 micro-batches; each batch runs the magic-byte audio
    * dispatch (MPEG-1 Layer I decode included) ONCE and appends its
    * energy-hash rows under an idempotent `batch_id=` partition.
    * Decode is deterministic, so the census over the maintained index
    * shares q246's source-sample oracle — the streamed-multimodal
    * matrix now closes over the lossy tier too.
    */
  def q247StreamMpegIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthMpegAudioDupMedia(spark, dir)
    val tmp = tempDir("graft-q247")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    // the stream itself runs to completion inside the call; the
    // returned lazy read is superseded by the post-compaction read
    Jobs.runAudioHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2)
    // maintenance compaction folds the per-trigger batch_id= partitions
    // (graft.sinks.Writers.compactBatchPartitions) INSIDE the
    // oracle-checked path — the census over the compacted index must
    // still hash-match the source-sample closed form
    graft.sinks.Writers.compactBatchPartitions(spark, s"$tmp/work/index")
    audioNearDupCensus(
      spark.read.parquet(s"$tmp/work/index").drop("batch_id"))
  }

  /** STREAMING mixed-audio fingerprint-index ingest
    * ([[graft.stream.Jobs.runAudioHashIndexStream]]): q235's mixed
    * WAV/FLAC corpus arrives as 4 micro-batches; each batch runs the
    * magic-byte audio dispatch (from-scratch FLAC decode included)
    * ONCE and appends its energy-hash rows under an idempotent
    * `batch_id=` partition. The census over the maintained index
    * must reproduce q219/q235 exactly — the streamed-multimodal
    * matrix closes over every real codec tier (BMP q209, WAV q227,
    * video q228, JPEG q231, FLAC here).
    */
  def q236StreamFlacIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthMixedAudioDupMedia(spark, dir)
    val tmp = tempDir("graft-q236")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    audioNearDupCensus(
      Jobs.runAudioHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** Shared tail of q219/q227: banded Hamming pairs over the
    * energy-gradient fingerprint table → per-clip neighbor census +
    * min-id keep verdict.
    */
  private def audioNearDupCensus(fps: DataFrame): DataFrame = {
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      fps.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 3)
    val sym = pairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val nbrs = sym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_nbrs"), min(col("nbr")).as("min_nbr"))
    fps.join(nbrs, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_samples"), col("fp"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("media_id")).as("keep"))
      .orderBy(col("media_id"))
  }

  /** STREAMING audio fingerprint-index ingest
    * ([[graft.stream.Jobs.runWavHashIndexStream]]): q219's WAV corpus
    * arrives as 4 micro-batches of binary payloads; each batch is
    * decoded once (real RIFF parse → energy-gradient hash) and
    * appends its fingerprint rows under an idempotent `batch_id=`
    * partition. The near-dup census runs over the maintained
    * relational index and must reproduce q219's from-scratch result
    * exactly (decode is deterministic) — one oracle for both.
    */
  def q227StreamAudioIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthAudioDupMedia(spark, dir)
    val tmp = tempDir("graft-q227")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    audioNearDupCensus(
      Jobs.runWavHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** SEQUENCE-grain audio near-dup — the Shazam-style offset match,
    * q224's composition on the acoustic leg: clips decode once into
    * window-grain energy-gradient hashes
    * ([[graft.ext.Multimodal.wavWindowHashes]], 100-sample windows)
    * and ride the SAME fingerprint-agnostic banded vote
    * ([[graft.ext.Multimodal.sequenceNearDupPairs]]) the video leg
    * uses. Beside it, the clip-grain census (q219's whole-clip
    * 61-frame hash) on the same corpus: the planted one-window-
    * delayed partners shift every clip frame boundary, so clip-grain
    * matching misses them (n_clip_nbrs = 0) while the aligned vote
    * catches each at offset 1. (The linear-congruential sample
    * recipe also yields additional GENUINE cross-clip sequence
    * matches — windows are an arithmetic progression mod 4096, so
    * some base pairs align whole-sequence at a fixed phase offset;
    * the vote finds them, the clip census still misses them, and
    * the oracle replays every one.) The oracle replays samples,
    * both frame geometries, exact energies, gradient bits,
    * candidate offsets, the vote, and both censuses.
    */
  def q230AudioSeqNearDup(spark: SparkSession, dir: String): DataFrame = {
    val media = synthAudioSeqMedia(spark, dir)
    val wh = Multimodal.wavWindowHashes(spark, media,
      windowSamples = 100, partitions = 8).toDF()
    val seqPairs = Multimodal.sequenceNearDupPairs(wh, maxDistance = 2)
    val clip = Multimodal.wavEnergyHashes(spark, media, partitions = 8).toDF()
    val clipPairs = graft.ext.Dedup.hammingNearDupPairs(
      clip.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 2)
    val csym = clipPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(clipPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val cn = csym.groupBy(col("media_id")).agg(count(lit(1)).as("n_clip_nbrs"))
    val ssym = seqPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(seqPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val sn = ssym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_seq_nbrs"), min(col("nbr")).as("min_seq_nbr"))
    clip.select(col("media_id"), col("n_samples"))
      .join(wh.groupBy(col("media_id"))
        .agg(max(col("n_frames")).as("n_windows")), Seq("media_id"))
      .join(cn, Seq("media_id"), "left_outer")
      .join(sn, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_samples"), col("n_windows"),
        coalesce(col("n_clip_nbrs"), lit(0L)).as("n_clip_nbrs"),
        coalesce(col("n_seq_nbrs"), lit(0L)).as("n_seq_nbrs"),
        col("min_seq_nbr"),
        (col("min_seq_nbr").isNull || col("min_seq_nbr") > col("media_id"))
          .as("keep"))
      .orderBy(col("media_id"))
  }

  /** MULTIMODAL dedup capstone: one reduction table across all three
    * modalities' dedup machinery — exact text fingerprints (q11's md5
    * grain), image dHash near-dup (q202's census), audio
    * energy-gradient near-dup (q219's census) — reporting items,
    * survivors, and exact reduction ppm per modality. Each row reuses
    * its modality's full pipeline; the oracle embeds the image/audio
    * census replays as subqueries of their SHARED SQL vals, so the
    * capstone stays pinned to the same spec as its halves.
    */
  def q220MultimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    def summarize(name: String, census: DataFrame): DataFrame =
      census.agg(count(lit(1)).as("n_items"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .select(lit(name).as("modality"), col("n_items"), col("n_kept"),
          expr("(n_items - n_kept) * 1000000 div n_items").as("reduction_ppm"))
    val text = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))) === 1)
    summarize("1_text_exact", text)
      .unionByName(summarize("2_image_dhash", q202ImageNearDup(spark, dir)))
      .unionByName(summarize("3_audio_energy", q219AudioNearDup(spark, dir)))
      .unionByName(summarize("4_video_keyframe", q222VideoNearDup(spark, dir)))
      .orderBy(col("modality"))
  }

  /** VIDEO frame sampling + keyframe near-dup
    * ([[graft.ext.Multimodal.videoFrameHashes]]): raw-container clips
    * decode ONCE, every 2nd frame is kept and dHash-fingerprinted
    * (the brief's frame-sample op — video bytes never touched again),
    * and clips near-dup on their middle SAMPLED frame's hash through
    * the shared Hamming banding — keyframe hashing, the standard
    * cheap video-dedup key. The oracle regenerates the keyframe's
    * luma from the synth recipe (identity grid), packs bits, and
    * replays pairs + census — the container encode → parse →
    * frame-sample → fingerprint chain hash-pinned. Completes the
    * near-dup matrix: text, image, audio, video on ONE blocking
    * machinery.
    */
  def q222VideoNearDup(spark: SparkSession, dir: String): DataFrame =
    videoKeyframeCensus(Multimodal.videoFrameHashes(spark,
      synthVideoDupMedia(spark, dir), stride = 2, partitions = 8).toDF())

  /** STREAMING video fingerprint-index ingest
    * ([[graft.stream.Jobs.runVideoHashIndexStream]]): q222's raw-video
    * corpus arrives as 4 micro-batches; each batch decodes once
    * (container parse → per-sampled-frame dHash at stride 2) and
    * appends its frame-hash rows under an idempotent `batch_id=`
    * partition. The keyframe census over the maintained index must
    * reproduce q222 exactly — one oracle for both, closing the
    * streamed-multimodal matrix (image q209, audio q227, video here).
    */
  def q228StreamVideoIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthVideoDupMedia(spark, dir)
    val tmp = tempDir("graft-q228")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    videoKeyframeCensus(
      Jobs.runVideoHashIndexStream(spark, in, schema, s"$tmp/work", stride = 2,
        filesPerTrigger = 2))
  }

  /** Shared tail of q222/q228: middle-sampled-frame near-dup census
    * over a (media_id, n_frames, frame_idx, fp) frame-hash table.
    */
  private[graft] def videoKeyframeCensus(fps: DataFrame): DataFrame = {
    val sampled = fps.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"))
    val keyed = fps
      .filter(col("frame_idx") ===
        expr("2 * (((n_frames + 1) div 2) div 2)"))
      .select(col("media_id"), col("n_frames"), col("fp").as("key_fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      keyed.select(col("media_id"), col("key_fp").as("fp")),
      "media_id", "fp", bits = 60, maxDistance = 3)
    val sym = pairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val nbrs = sym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_nbrs"), min(col("nbr")).as("min_nbr"))
    keyed.join(sampled, Seq("media_id"))
      .join(nbrs, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_frames"), col("n_sampled"),
        col("key_fp"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"), col("min_nbr"),
        (col("min_nbr").isNull || col("min_nbr") > col("media_id")).as("keep"))
      .orderBy(col("media_id"))
  }

  /** JPEG near-dup dedup — the compressed-codec leg of the
    * multimodal matrix made REAL: synth baseline-JFIF payloads
    * (four encoder modes per cluster quad) → from-scratch
    * [[graft.ext.Jpeg]] decode (marker walk → Huffman → dequant →
    * IDCT → upsample → YCbCr→RGB) → [[graft.ext.Multimodal.Bmp
    * .dhash60]] → the shared banded Hamming census. The corpus is
    * engineered so lossy decode preserves every gradient bit
    * (±88-luma strip steps vs ≤ ~20 codec error), which is what
    * lets the oracle state the expected fingerprint in CLOSED FORM
    * (cluster pattern × the 6-row replication constant) — a decoder
    * that mis-huffmans, mis-dequantizes, mis-IDCTs, mis-upsamples,
    * or mis-converts any of the four modes scatters fingerprints
    * and the hash check fails. Only the decode pass touches payload
    * bytes; the pair surface is the guarded banded join.
    */
  def q223JpegNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.imageDHashes(spark, synthJpegDupMedia(spark, dir),
        partitions = 8).toDF())

  /** STREAMING JPEG fingerprint-index ingest
    * ([[graft.stream.Jobs.runImageHashIndexStream]]): q223's
    * baseline-JFIF corpus arrives as 4 micro-batches of binary
    * payloads; each batch runs the from-scratch JPEG decode ONCE and
    * appends its dHash rows under an idempotent `batch_id=`
    * partition. The census over the maintained index must reproduce
    * q223 exactly — one closed-form oracle for both, and the
    * compressed-codec tier joins the streamed-multimodal matrix
    * (BMP q209, WAV q227, video q228, JPEG here).
    */
  def q231StreamJpegIndex(spark: SparkSession, dir: String): DataFrame = {
    val media = synthJpegDupMedia(spark, dir)
    val tmp = tempDir("graft-q231")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    dhashNearDupCensus(
      Jobs.runImageHashIndexStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2))
  }

  /** Corrupt-JPEG DLQ split at corpus grain — the O-07 discipline
    * applied to the compressed-codec tier: q223's corpus with
    * planted corruption (`doc_id % 10 == 7` truncated mid-entropy,
    * `doc_id % 10 == 4` first byte flipped) runs through
    * [[graft.ext.Multimodal.decodeImage]], and the census pins that
    * decode succeeds on EXACTLY the valid payloads and returns None
    * on EXACTLY the corrupt ones (id_sum makes membership
    * hash-checked, not just counted) — a decoder that crashes,
    * rejects a valid mode, or "recovers" garbage from corrupt bytes
    * all fail this row.
    */
  def q229JpegDlq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = synthJpegDupMedia(spark, dir).as[Multimodal.MediaRecord]
      .map { r =>
        val p = r.media_id % 10 match {
          case 7 => r.payload.take(r.payload.length / 2)
          case 4 => val c = r.payload.clone(); c(0) = (c(0) ^ 0x40).toByte; c
          case _ => r.payload
        }
        Multimodal.MediaRecord(r.media_id, p, r.mime)
      }.toDF()
    val decoded = Multimodal.imageDHashes(spark, media, partitions = 8).toDF()
      .select(col("media_id"), lit(true).as("decoded"))
    media.join(decoded, Seq("media_id"), "left_outer")
      .withColumn("decoded", coalesce(col("decoded"), lit(false)))
      .groupBy(col("decoded"))
      .agg(count(lit(1)).as("n_media"), sum(col("media_id")).as("id_sum"))
      .orderBy(col("decoded"))
  }

  /** Compressed-TEXT source — the corpus-ingest shape training data
    * actually arrives in (WET/WARC are per-record gzip members):
    * documents ride the gzip wire in four member/header
    * configurations, decode through the from-scratch
    * [[graft.ext.Gzip]] ([[graft.sources.Readers.gzipText]] — own
    * DEFLATE, per-member CRC-32 + ISIZE verification), and the
    * census pins BYTE-EXACT text recovery (per-doc md5 + length)
    * plus the DLQ contract: the planted trailer flips fail on
    * exactly the corrupt ids, never crash. A reader that
    * mis-inflates, skips a header field wrong, mishandles member
    * concatenation, or skips verification fails the hash.
    */
  def q237GzipCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Readers.gzipText(spark, synthGzipDocs(spark, dir), partitions = 8)
      .select(col("doc_id"),
        col("text").isNotNull.as("ok"),
        when(col("text").isNotNull, length(col("text")).cast("long")).as("n_chars"),
        when(col("text").isNotNull, md5(col("text").cast("binary"))).as("digest"))
      .orderBy(col("doc_id"))

  /** `.tar.gz` corpus ingest — [[graft.ext.Tar]] through the
    * from-scratch [[graft.ext.Gzip]] DEFLATE tier: extract each
    * archive once, one row per member document (id parsed from the
    * entry name, exact length + digest), corrupt archives dropped
    * whole. The oracle replays text identity AND the corruption
    * membership straight from the documents table — a reader that
    * mis-frames a header, mis-parses an octal size, or survives a
    * CRC mismatch changes the row set and fails the hash.
    */
  def q258TarGzIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthTarGzArchives(spark, dir)
      .select(col("archive_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (aid, payload) =>
        graft.ext.Tar.extractGz(payload).toSeq.flatMap(_.map { e =>
          // doc id = the basename — long-path members carry pax-
          // restored directories the id must not include
          val base = e.name.substring(e.name.lastIndexOf('/') + 1)
          (aid, base.stripSuffix(".txt").toLong,
            new String(e.data, java.nio.charset.StandardCharsets.UTF_8))
        })
      }).toDF("archive_id", "doc_id", "text")
      .select(col("archive_id"), col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy(col("doc_id"))
  }

  /** ZIP corpus ingest — [[graft.ext.Zip]] over the shared raw-DEFLATE
    * tier: extract each archive once (central-directory walk, local
    * offsets, per-member CRC), one row per SURVIVING member. The
    * oracle replays text identity AND the member-grain drop rule —
    * exactly one document per corrupted archive is missing, which a
    * reader that rejects whole archives (or survives CRC mismatches)
    * cannot reproduce.
    */
  def q259ZipIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthZipArchives(spark, dir)
      .select(col("archive_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (aid, payload) =>
        graft.ext.Zip.extract(payload).toSeq.flatMap(_.map { e =>
          (aid, e.name.stripSuffix(".txt").toLong,
            new String(e.data, java.nio.charset.StandardCharsets.UTF_8))
        })
      }).toDF("archive_id", "doc_id", "text")
      .select(col("archive_id"), col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy(col("doc_id"))
  }

  /** WARC/WET crawl ingest ([[graft.sources.Warc.warcRecords]]) —
    * the container format web-scale training text actually arrives
    * in: two-record WARC files ride three wire variants (plain /
    * whole-file gzip / record-per-member gzip, sniffed by magic),
    * parse ONCE per file into relational record rows, and the
    * census pins record counts, the conversion record's URI, and
    * BYTE-EXACT text recovery per doc. A reader that mis-walks
    * headers, mis-lengths a block, or mishandles member
    * concatenation fails the hash.
    */
  def q240WarcIngest(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.warcRecords(spark, synthWarcDocs(spark, dir), partitions = 8)
      .groupBy(col("media_id").as("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        max(when(col("warc_type") === "conversion", col("target_uri")))
          .as("target_uri"),
        max(when(col("warc_type") === "conversion",
          md5(col("text").cast("binary")))).as("digest"),
        max(when(col("warc_type") === "conversion",
          length(col("text")).cast("long"))).as("n_chars"))
      .orderBy(col("doc_id"))

  /** STREAMING WARC ingest ([[graft.stream.Jobs
    * .runWarcIngestStream]]): q240's corpus arrives as 4
    * micro-batches of WARC files; each batch decompresses + parses
    * ONCE and appends its record rows under an idempotent
    * `batch_id=` partition. The census over the maintained store
    * reproduces q240 exactly — crawl ingest joins the streamed
    * matrix beside the fingerprint indexes.
    */
  def q241StreamWarcIngest(spark: SparkSession, dir: String): DataFrame = {
    val media = synthWarcDocs(spark, dir)
    val tmp = tempDir("graft-q241")
    val in = writeSliceFilesByExpr(media, pmod(col("media_id"), lit(4)), tmp)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("mime", StringType, nullable = true)))
    Jobs.runWarcIngestStream(spark, in, schema, s"$tmp/work", filesPerTrigger = 2)
      .groupBy(col("media_id").as("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        max(when(col("warc_type") === "conversion", col("target_uri")))
          .as("target_uri"),
        max(when(col("warc_type") === "conversion",
          md5(col("text").cast("binary")))).as("digest"),
        max(when(col("warc_type") === "conversion",
          length(col("text")).cast("long"))).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** PNG near-dup dedup — the LOSSLESS compressed-codec leg: q223's
    * strip corpus encoded as PNG across four wire configurations per
    * cluster quad (RGB + dynamic Huffman + adaptive filters, RGBA +
    * fixed Huffman + Paeth with the +2 brightness shift, palette +
    * dynamic + filter None, grayscale + stored blocks + filter Up),
    * decoded by the from-scratch [[graft.ext.Png]] (chunk walk +
    * CRC-32 → zlib/Adler-32 → RFC 1951 inflate over all three block
    * types → scanline unfilter → BGR) → dHash → the shared guarded
    * banded census. PNG is lossless, so the decoded fingerprint
    * equals the cluster pattern with no quantization caveat and the
    * oracle is q223's closed form VERBATIM — a decoder that
    * mis-inflates, mis-unfilters, mis-indexes the palette, or
    * mishandles alpha scatters fingerprints and fails the hash.
    */
  def q232PngNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.imageDHashes(spark, synthPngDupMedia(spark, dir),
        partitions = 8).toDF())

  /** Image metadata extraction ([[graft.ext.Png.textChunks]]) — the
    * provenance side-channel read WITHOUT a pixel decode: tEXt
    * chunks are CRC-verified and collected in a header-only walk, so
    * caption/source/shard tracking over an image corpus never pays
    * inflate or unfilter cost. The census pivots the planted
    * keys back to one row per image; the oracle replays every value
    * from the documents table. A reader that mis-walks chunks,
    * mis-splits the keyword NUL, or skips CRC verification fails
    * the hash.
    */
  def q242ImageMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = synthPngMetaMedia(spark, dir)
    val rows = media
      .select(col("media_id"), col("payload"), col("mime"))
      .repartition(8, col("media_id"))
      .as[Multimodal.MediaRecord]
      .flatMap { r =>
        graft.ext.Png.textChunks(r.payload).getOrElse(Nil)
          .map { case (k, v) => (r.media_id, k, v) }
      }
      .toDF("doc_id", "key", "value")
    rows.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_meta"),
        max(when(col("key") === "Title", col("value"))).as("title"),
        max(when(col("key") === "Language", col("value"))).as("language"),
        max(when(col("key") === "Shard", col("value"))).as("shard"))
      .orderBy(col("doc_id"))
  }

  /** Mixed-format image near-dup — the dispatch capstone: ONE corpus
    * whose cluster quads land as raw BMP, baseline JPEG, palette PNG
    * and grayscale stored-block PNG, run through the magic-byte
    * dispatch ([[graft.ext.Multimodal.decodeImage]]) and the shared
    * census. All three image codecs plus the dispatch itself are
    * pinned by q223's closed-form oracle — the real-corpus shape,
    * where a crawl hands you a bag of formats and the engine must
    * fingerprint them all into ONE dedup space.
    */
  def q233MixedImageNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.imageDHashes(spark, synthMixedImageDupMedia(spark, dir),
        partitions = 8).toDF())

  /** Thumbnail-pipeline near-dup — the preprocessor shape: the mixed
    * BMP/JPEG/PNG corpus decodes ONCE, bilinear-resamples to a fixed
    * 22×12 thumbnail ([[graft.ext.Multimodal.Bmp.resizeBilinear]] —
    * integer 16.16 fixed point, bit-reproducible), and the census
    * runs on THUMBNAIL fingerprints. The 2:1 geometry makes the
    * closed form survive exactly: every 2-px output strip averages
    * two same-level source pixels (strip width 4, pairs never
    * straddle a boundary) and the 11-grid dHash samples `2·gx`,
    * landing in strip gx exactly as the full-size hash does — so a
    * correct scaler reproduces q223's census verbatim at the new
    * dims, and any resample-arithmetic defect (wrong weights, edge
    * clamp, center alignment, channel order) shifts a strip value
    * and fails the hash.
    */
  def q234ThumbnailNearDup(spark: SparkSession, dir: String): DataFrame =
    dhashNearDupCensus(
      Multimodal.thumbnailDHashes(spark, synthMixedImageDupMedia(spark, dir),
        outW = 22, outH = 12, partitions = 8).toDF())

  /** Shot-boundary detection ([[graft.ext.Multimodal
    * .shotBoundaries]]) — the segmentation a video pipeline runs
    * before per-shot sampling: clips decode ONCE at stride 1, one
    * lag window over the fingerprint index marks every frame whose
    * dHash moves > 2 bits from its predecessor, and the census
    * reports per-clip shot counts, boundary-index sums, and the
    * first frame of the LAST shot. The oracle replays every frame
    * fingerprint from the planted-shot recipe, the lag, the
    * bit_count threshold, and the aggregation — a detector that
    * mis-lags, mis-thresholds, or re-orders frames fails the hash.
    */
  def q238ShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthShotMedia(spark, dir), stride = 1, partitions = 8).toDF()
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** SCENE-grain video dedup — shots, not clips, as the dedup unit
    * (the shared-intro/credits problem: two distinct videos that
    * open with the same sequence are duplicates at scene grain and
    * nothing else): decode once → [[graft.ext.Multimodal
    * .shotBoundaries]] segments each clip → one representative
    * fingerprint per shot (its first frame) → the guarded banded
    * Hamming join over composite `clip·64 + shot` ids → CROSS-CLIP
    * matches only. Census: per clip, total shots, how many are
    * shared with another clip, and whether the OPENING shot is —
    * the intro-detection verdict. The oracle replays scene
    * assignment, frame fingerprints, segmentation, representatives,
    * the pair surface, and both counts.
    */
  def q239SceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthSceneMedia(spark, dir), stride = 1, partitions = 8).toDF()
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** MPEG-1 compressed-video keyframe near-dup — q222's pipeline
    * (frame-sample at stride 2 → dHash → middle-keyframe census via
    * the banded Hamming machinery) running on REAL ISO 11172-2 wire:
    * [[graft.ext.Mpeg1Video]] decodes each clip once (sequence/GOP/
    * picture/slice walk, B.1/B.2a/B.5 VLCs, intra dequant with
    * oddification, IDCT, 4:2:0 upsample), and the oracle computes
    * every keyframe fingerprint in closed form from the SOURCE strip
    * recipe — the full encode → parse → dequant → IDCT → fingerprint
    * chain is hash-pinned through a lossy codec.
    */
  def q250MpegKeyframeNearDup(spark: SparkSession, dir: String): DataFrame =
    // eager checkpoint: the census references the frame table several
    // times, and each uncut reference would re-run the full MPEG
    // encode+decode synth (the q244 re-walk lesson); 32-way decode
    // fan-out matches the harness cores
    videoKeyframeCensus(Multimodal.videoFrameHashes(spark,
      synthMpegVideoMedia(spark, dir), stride = 2, partitions = 32)
      .toDF().localCheckpoint(true))

  /** Shot-boundary detection on the MPEG-1 wire — q238's lag-window
    * segmentation over per-frame fingerprints, with the decode leg on
    * real compressed video. Same census, oracle replayed from the
    * strip walk (boundaries are pattern INEQUALITIES, deterministic
    * either way a rare walk collision lands).
    */
  def q251MpegShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegShotMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** Scene-grain dedup on the MPEG-1 wire — q239's pipeline (segment →
    * per-shot representative fingerprint → guarded banded Hamming join
    * on composite shot ids → cross-clip census) with real compressed
    * decode; the oracle replays scene assignment, the walk, the
    * segmentation, and both counts.
    */
  def q252MpegSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegSceneMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** Shot-boundary detection on a PREDICTIVE MPEG-1 wire — q251's
    * pipeline with the decode leg now walking I AND P pictures
    * (motion vectors, skipped macroblocks, non-intra dequant,
    * intra fallback). Oracle: q251's closed-form strip replay,
    * unchanged — P reconstruction must land every fingerprint bit.
    */
  def q253MpegIppShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegIppShotMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** Scene-grain dedup on a predictive MPEG-1 wire — q252's pipeline
    * (segment → representative → guarded banded Hamming join →
    * cross-clip census) with the decode leg on I+P pictures; the
    * q252 oracle replays verbatim.
    */
  def q254MpegIppSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegIppSceneMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** Shot-boundary detection on a BIDIRECTIONAL MPEG-1 wire — q251's
    * pipeline with the decode leg walking I, P AND B pictures
    * (Table B.2c types, dual motion vectors, interpolated prediction,
    * display-order reorder). Oracle: q251's closed form, unchanged.
    */
  def q255MpegBShotDetect(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegBShotMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"))
      .orderBy(col("media_id"))
  }

  /** Scene-grain dedup on a bidirectional MPEG-1 wire — q252's
    * pipeline with the decode leg on I/P/B pictures; the q252 oracle
    * replays verbatim.
    */
  def q256MpegBSceneDedup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthMpegBSceneMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // decode once; cut the codec lineage
    val shots = Multimodal.shotBoundaries(fh, maxDistance = 2)
      .filter(col("is_boundary"))
      .select(col("media_id"), col("shot_idx"),
        (col("media_id") * 64 + col("shot_idx")).as("shot_uid"), col("fp"))
    val pairs = graft.ext.Dedup.hammingNearDupPairs(
      shots.select(col("shot_uid").as("media_id"), col("fp")),
      "media_id", "fp", bits = 60, maxDistance = 2)
      .filter(expr("id_a div 64") =!= expr("id_b div 64"))
    val sym = pairs.select(col("id_a").as("shot_uid"))
      .unionByName(pairs.select(col("id_b").as("shot_uid")))
      .distinct()
    val shared = shots.join(sym, Seq("shot_uid"), "left_semi")
    shots.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_shots"))
      .join(shared.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_shared_shots"),
          max((col("shot_idx") === 0).cast("long")).as("intro_shared_l")),
        Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_shots"),
        coalesce(col("n_shared_shots"), lit(0L)).as("n_shared_shots"),
        (coalesce(col("intro_shared_l"), lit(0L)) === 1L).as("intro_shared"))
      .orderBy(col("media_id"))
  }

  /** Dual-modal census over MUXED containers — the capstone of the
    * media stack: [[graft.ext.Mpeg1System]] demuxes each 11172-1
    * program stream ONCE, the 11172-2 I/P/B decoder fingerprints the
    * video frames, the 11172-3 Layer I decoder fingerprints the audio
    * track, and one result row per asset carries q251's shot census
    * NEXT TO the audio energy fingerprint + exact gapless sample
    * count. The oracle replays BOTH closed forms (video strip walk,
    * audio staircase energies) from the documents table and joins
    * them — a slip anywhere in mux framing, stream reassembly, either
    * codec, or the display reorder breaks the hash.
    */
  def q257MuxedAvCensus(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.avFrameHashes(spark,
      synthMpegMuxedMedia(spark, dir), stride = 1, partitions = 32)
      .toDF().localCheckpoint(true) // demux+decode once; cut the lineage
    Multimodal.shotBoundaries(fh, maxDistance = 2)
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("is_boundary").cast("long")).as("n_shots"),
        sum(when(col("is_boundary"), col("frame_idx"))).as("boundary_idx_sum"),
        max(when(col("is_boundary"), col("frame_idx"))).as("last_shot_start"),
        max(col("audio_fp")).as("audio_fp"),
        max(col("n_samples")).as("n_samples"))
      .orderBy(col("media_id"))
  }

  /** SEQUENCE-grain video near-dup
    * ([[graft.ext.Multimodal.videoSequenceNearDupPairs]]) vs the
    * keyframe census, side by side: clips decode ONCE at stride 1,
    * keyframe matching compares middle-frame hashes (q222's grain),
    * sequence matching votes over banded frame-level candidates at
    * every implied alignment offset. The planted one-frame-delayed
    * partners have fast-changing content, so their middle frames
    * hash far apart — `n_key_nbrs = 0` — while the aligned vote
    * finds `n−1` exact matches at offset 1 — `n_seq_nbrs = 1`: the
    * exact failure mode keyframe-grain dedup has at 100 TB and the
    * composition that fixes it. The oracle replays every frame
    * fingerprint in closed form, the candidate offsets, the vote,
    * the majority threshold, and both censuses.
    */
  def q224VideoSeqNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fh = Multimodal.videoFrameHashes(spark,
      synthVideoSeqMedia(spark, dir), stride = 1, partitions = 8).toDF()
    val seqPairs = Multimodal.videoSequenceNearDupPairs(fh, maxDistance = 2)
    val keyed = fh.filter(col("frame_idx") === expr("n_frames div 2"))
      .select(col("media_id"), col("n_frames"), col("fp"))
    val keyPairs = graft.ext.Dedup.hammingNearDupPairs(
      keyed.select(col("media_id"), col("fp")), "media_id", "fp",
      bits = 60, maxDistance = 2)
    val ksym = keyPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(keyPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val kn = ksym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_key_nbrs"))
    val ssym = seqPairs.select(col("id_a").as("media_id"), col("id_b").as("nbr"))
      .unionByName(seqPairs.select(col("id_b").as("media_id"), col("id_a").as("nbr")))
    val sn = ssym.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_seq_nbrs"), min(col("nbr")).as("min_seq_nbr"))
    keyed.join(kn, Seq("media_id"), "left_outer")
      .join(sn, Seq("media_id"), "left_outer")
      .select(col("media_id"), col("n_frames"),
        coalesce(col("n_key_nbrs"), lit(0L)).as("n_key_nbrs"),
        coalesce(col("n_seq_nbrs"), lit(0L)).as("n_seq_nbrs"),
        col("min_seq_nbr"),
        (col("min_seq_nbr").isNull || col("min_seq_nbr") > col("media_id"))
          .as("keep"))
      .orderBy(col("media_id"))
  }

  /** The q251-family CTE chain (strip walk → per-frame fingerprints →
    * lag-marked shot boundaries) shared VERBATIM by every oracle that
    * replays the shot closed form — one copy, no drift.
    */
  private val MpegShotCtes: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(12 + (doc_id // 16) % 7 AS BIGINT) AS n,
        |         CAST(2 + (doc_id // 16) % 3 AS BIGINT) AS sl
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, n - 1)) AS f FROM d),
        |ks AS (
        |  SELECT doc_id, n, f, base * 97 + (f // sl) * 31 + 13 AS s
        |  FROM fr),
        |g AS (SELECT ks.*, unnest(generate_series(0, 10)) AS gx FROM ks),
        |dd AS (
        |  SELECT doc_id, n, f, s, gx,
        |         CASE WHEN gx = 0 THEN 0
        |              ELSE (s * (gx + 3) + gx * gx) % 2 END AS dbit
        |  FROM g),
        |lv AS (
        |  SELECT doc_id, n, f, gx,
        |         (s + gx + sum(dbit)
        |            OVER (PARTITION BY doc_id, f ORDER BY gx)) % 3 AS lev
        |  FROM dd),
        |bt AS (
        |  SELECT doc_id, n, f, gx, lev,
        |         lead(lev) OVER (PARTITION BY doc_id, f ORDER BY gx) AS nlev
        |  FROM lv),
        |fp AS (
        |  SELECT doc_id, max(n) AS n, f,
        |         CAST(sum(CASE WHEN gx < 10 AND lev < nlev
        |                  THEN (CAST(1 AS BIGINT) << gx) * 1127000493261825
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM bt GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, n, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, n, f,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged)""".stripMargin

  /** q251/q253/q255 shared closed-form oracle: the CTE chain plus the
    * per-clip shot census select.
    */
  private val MpegShotOracleSql: String = MpegShotCtes +
    """
        |SELECT doc_id AS media_id, max(n) AS n_frames,
        |       CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
        |       CAST(sum(CASE WHEN ib THEN f END) AS BIGINT) AS boundary_idx_sum,
        |       CAST(max(CASE WHEN ib THEN f END) AS BIGINT) AS last_shot_start
        |FROM marked GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** q252/q254 shared closed-form oracle: scene walk, segmentation,
    * representative, pair and census replay (see q252).
    */
  private val MpegSceneOracleSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(5 + (doc_id // 16) % 3 AS BIGINT) AS ns
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, ns * 2 - 1)) AS f FROM d),
        |ks AS (
        |  SELECT doc_id, f,
        |         (CASE WHEN (base + f // 2) % 4 = 1
        |               THEN 1000 + base * 8 + f // 2
        |               ELSE (base + f // 2) % 6 END) * 53 + 17 AS s
        |  FROM fr),
        |g AS (SELECT ks.*, unnest(generate_series(0, 10)) AS gx FROM ks),
        |dd AS (
        |  SELECT doc_id, f, s, gx,
        |         CASE WHEN gx = 0 THEN 0
        |              ELSE (s * (gx + 3) + gx * gx) % 2 END AS dbit
        |  FROM g),
        |lv AS (
        |  SELECT doc_id, f, gx,
        |         (s + gx + sum(dbit)
        |            OVER (PARTITION BY doc_id, f ORDER BY gx)) % 3 AS lev
        |  FROM dd),
        |bt AS (
        |  SELECT doc_id, f, gx, lev,
        |         lead(lev) OVER (PARTITION BY doc_id, f ORDER BY gx) AS nlev
        |  FROM lv),
        |fp AS (
        |  SELECT doc_id, f,
        |         CAST(sum(CASE WHEN gx < 10 AND lev < nlev
        |                  THEN (CAST(1 AS BIGINT) << gx) * 1127000493261825
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM bt GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, f, fp,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged),
        |shots AS (
        |  SELECT doc_id, fp,
        |         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY f) - 1 AS BIGINT)
        |           AS shot_idx, ib
        |  FROM marked),
        |reps AS (
        |  SELECT doc_id, shot_idx, doc_id * 64 + shot_idx AS uid, fp
        |  FROM shots WHERE ib),
        |pairs AS (
        |  SELECT a.uid AS ua, c.uid AS ub
        |  FROM reps a JOIN reps c ON a.uid < c.uid
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2
        |    AND a.doc_id != c.doc_id),
        |sym AS (
        |  SELECT DISTINCT uid FROM (
        |    SELECT ua AS uid FROM pairs UNION ALL SELECT ub FROM pairs)),
        |shared AS (
        |  SELECT r.doc_id, r.shot_idx FROM reps r JOIN sym ON sym.uid = r.uid),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots
        |  FROM reps GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shots,
        |         max(CASE WHEN shot_idx = 0 THEN 1 ELSE 0 END) AS intro_l
        |  FROM shared GROUP BY doc_id)
        |SELECT tot.doc_id AS media_id, tot.n_shots,
        |       COALESCE(sh.n_shared_shots, 0) AS n_shared_shots,
        |       (COALESCE(sh.intro_l, 0) = 1) AS intro_shared
        |FROM tot LEFT JOIN sh ON sh.doc_id = tot.doc_id
        |ORDER BY media_id""".stripMargin

  /** Shared by q143 (batch DLQ audit) and q143b (the streaming
    * dual-write whose good ∪ DLQ union must reassemble it exactly).
    */
  private def mediaDlqOracle: String =
    """SELECT doc_id AS media_id,
      |       CAST(CASE WHEN doc_id % 7 = 0 THEN 21
      |                 ELSE 68 + 2 * (50 + doc_id % 50) END AS INT) AS n_bytes,
      |       doc_id % 7 <> 0 AS ok,
      |       CASE WHEN doc_id % 7 = 0 THEN NULL
      |            ELSE 50 + doc_id % 50 END AS n_samples
      |FROM documents ORDER BY media_id""".stripMargin

  /** q202/q209 shared oracle: regenerate luma at the sampled grid,
    * pack the 60 gradient bits, quadratic bit_count(xor) pairs,
    * neighbor census.
    */
  private val imageNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(16 + (doc_id // 4) % 5 AS INT) AS w,
        |         CAST(12 + (doc_id // 4) % 3 AS INT) AS h
        |  FROM documents),
        |gys AS (SELECT d.*, unnest(generate_series(0, 5)) AS gy FROM d),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, w, h, gy, gx,
        |         ((base * 37 + ((gy * h) // 6) * 11 + ((gx * w) // 11) * 29
        |           + (((gx * w) // 11) * ((gy * h) // 6) + base) % 13) % 16) * 2
        |           + (variant * (1 + ((gy * h) // 6) * 5 + ((gx * w) // 11) * 3)) % 3 % 2
        |           AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, w, h, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(w) AS width, max(h) AS height,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.width, f.height, f.fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q222/q220 shared oracle: keyframe closed form, luma, bits,
    * quadratic verify, census.
    */
  private val videoNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(8 + (doc_id // 4) % 5 AS BIGINT) AS n
        |  FROM documents),
        |k AS (
        |  SELECT d.*, (n + 1) // 2 AS m,
        |         2 * (((n + 1) // 2) // 2) AS kf
        |  FROM d),
        |gys AS (SELECT k.*, unnest(generate_series(0, 5)) AS gy FROM k),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, n, m, gy, gx,
        |         ((base * 37 + kf * 7 + gy * 11 + gx * 29
        |           + (gx * gy + kf + base) % 13) % 16) * 2
        |           + (variant * (1 + gy * 5 + gx * 3)) % 3 % 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, n, m, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_frames, max(m) AS n_sampled,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS key_fp
        |  FROM b GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.key_fp, c.key_fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_frames, f.n_sampled, f.key_fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q223/q231 shared oracle: cluster pattern constants, the
    * closed-form decoded fingerprint, census from membership.
    */
  private val jpegNearDupSql: String =
    """WITH cl AS (
        |  SELECT doc_id, ((doc_id // 4) * 37 + 11) % 6 AS c FROM documents),
        |pat AS (
        |  SELECT doc_id, c,
        |         CASE c WHEN 0 THEN 731 WHEN 1 THEN 292 WHEN 2 THEN 341
        |                WHEN 3 THEN 682 WHEN 4 THEN 819 ELSE 204 END AS p
        |  FROM cl),
        |m1 AS (
        |  SELECT c, min(doc_id) AS m1, CAST(count(*) AS BIGINT) AS n
        |  FROM cl GROUP BY c),
        |m2 AS (
        |  SELECT cl.c, min(cl.doc_id) AS m2
        |  FROM cl JOIN m1 ON cl.c = m1.c WHERE cl.doc_id > m1.m1
        |  GROUP BY cl.c)
        |SELECT p.doc_id AS media_id,
        |       CAST(44 AS INT) AS width, CAST(24 AS INT) AS height,
        |       CAST(p.p * 1127000493261825 AS BIGINT) AS fp,
        |       m1.n - 1 AS n_nbrs,
        |       CASE WHEN m1.n = 1 THEN NULL
        |            WHEN p.doc_id = m1.m1 THEN m2.m2 ELSE m1.m1 END AS min_nbr,
        |       (m1.n = 1 OR p.doc_id = m1.m1) AS keep
        |FROM pat p JOIN m1 ON p.c = m1.c LEFT JOIN m2 ON p.c = m2.c
        |ORDER BY media_id""".stripMargin

  /** q219/q220 shared oracle: audio samples, frame energies,
    * gradient bits, quadratic verify, census.
    */
  private val audioNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(200 + (doc_id // 4) % 50 AS BIGINT) AS n
        |  FROM documents),
        |i AS (
        |  SELECT doc_id, n, base, variant,
        |         unnest(generate_series(0, n - 1)) AS j
        |  FROM d),
        |s AS (
        |  SELECT doc_id, n, j,
        |         ((base * 7919 + j * 104729) % 4096) - 2048
        |           + variant * (CASE WHEN j % 5 = 0 THEN 1 ELSE 0 END) AS v
        |  FROM i),
        |e AS (
        |  SELECT doc_id, n, (j * 61) // n AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, n, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM e),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM w GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_samples, f.fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q246 oracle: the audioNearDupSql census tail on the staircase
    * recipe — frame-constant amplitudes 400·(1 + (7·base + 3f) mod 4)
    * with the per-variant +800 boost at frame 56+variant. Computed
    * entirely from the SOURCE samples; the Spark side must recover
    * the same fingerprints from the MPEG/FLAC/WAV wires.
    */
  private val mpegNearDupSql: String =
    """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant,
        |         CAST(200 + (doc_id // 4) % 50 AS BIGINT) AS n
        |  FROM documents),
        |i AS (
        |  SELECT doc_id, n, base, variant,
        |         unnest(generate_series(0, n - 1)) AS j
        |  FROM d),
        |s AS (
        |  SELECT doc_id, n, j,
        |         400 * (1 + (base * 7 + 3 * ((j * 61) // n)) % 4)
        |           + (CASE WHEN variant > 0 AND (j * 61) // n = 56 + variant
        |              THEN 800 ELSE 0 END) AS v
        |  FROM i),
        |e AS (
        |  SELECT doc_id, n, (j * 61) // n AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT doc_id, n, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM e),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM w GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_samples, f.fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin

  /** q220: reduction rollup over the three modality censuses —
    * image/audio reuse their shared oracle bodies as subqueries.
    */
  private def multimodalDedupSql: String = {
    def sub(sql: String): String =
      sql.trim.stripSuffix("ORDER BY media_id").trim
    s"""WITH img AS (${sub(imageNearDupSql)}),
       |aud AS (${sub(audioNearDupSql)}),
       |vid AS (${sub(videoNearDupSql)}),
       |txt AS (
       |  SELECT doc_id,
       |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
       |           AS keep
       |  FROM documents)
       |SELECT modality, n_items, n_kept,
       |       (n_items - n_kept) * 1000000 // n_items AS reduction_ppm
       |FROM (
       |  SELECT '1_text_exact' AS modality, CAST(count(*) AS BIGINT) AS n_items,
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM txt
       |  UNION ALL
       |  SELECT '2_image_dhash', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM img
       |  UNION ALL
       |  SELECT '3_audio_energy', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM aud
       |  UNION ALL
       |  SELECT '4_video_keyframe', CAST(count(*) AS BIGINT),
       |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM vid)
       |ORDER BY modality""".stripMargin
  }

  /** ByteHistogram's byte histogram in SQL: UTF-8 bytes via one hex() of
    * the whole blob, each byte's value from two hex-digit lookups
    * (strpos over '123456789abcdef' maps '0'→0 … 'f'→15). The final
    * select LEFT JOINs the per-byte aggregation back onto documents so
    * an empty/null payload — which unnest(range(0)) would silently
    * drop — still yields a row with n_bytes = 0 and an all-zero
    * histogram, matching the Spark side.
    */
  private def multimodalDecodeOracle: String = {
    val hist = (0 until graft.ext.Multimodal.ByteHistogram.featureDim)
      .map(j => s"CAST(sum(CASE WHEN bv % 8 = $j THEN 1 ELSE 0 END) AS BIGINT) AS f$j")
      .mkString(",\n       ")
    val zhist = (0 until graft.ext.Multimodal.ByteHistogram.featureDim)
      .map(j => s"coalesce(h.f$j, 0) AS f$j")
      .mkString(",\n       ")
    s"""WITH b AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hx,
       |         unnest(range(octet_length(encode(text)))) AS i
       |  FROM documents),
       |v AS (
       |  SELECT doc_id,
       |         strpos('123456789abcdef', substring(hx, CAST(2*i+1 AS INT), 1)) * 16
       |         + strpos('123456789abcdef', substring(hx, CAST(2*i+2 AS INT), 1)) AS bv
       |  FROM b),
       |h AS (
       |  SELECT doc_id,
       |       $hist
       |  FROM v GROUP BY doc_id)
       |SELECT d.doc_id AS media_id, 'text/plain' AS mime,
       |       CAST(coalesce(octet_length(encode(d.text)), 0) AS INT) AS n_bytes,
       |       $zhist
       |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
       |ORDER BY media_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q24_multimodal_meta", q24MultimodalMeta, Some(
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       sha256(text) AS sha256
        |FROM documents ORDER BY media_id""".stripMargin)),
    QueryDef("q25_multimodal_decode", q25MultimodalDecode, Some(multimodalDecodeOracle)),
    // q140/q141: the oracle regenerates the SOURCE samples/pixels from
    // the synth recipe and computes the features directly — the Spark
    // side must recover the same numbers by PARSING THE ENCODED BYTES,
    // so the hash check pins the whole encode→parse→feature chain.
    QueryDef("q140_wav_decode", q140WavDecode, Some(
      """WITH idx AS (
        |  SELECT doc_id, unnest(generate_series(0, 50 + doc_id % 50 - 1)) AS i
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i,
        |         ((doc_id * 7919 + i * 104729) % 65536) - 32768 AS v
        |  FROM idx),
        |w AS (
        |  SELECT doc_id, i, v,
        |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id AS media_id,
        |       CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(count(*) * 1000000 // (8000 + (doc_id % 3) * 4000) AS BIGINT)
        |         AS duration_us,
        |       CAST(max(abs(v)) AS INT) AS peak,
        |       CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |       CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM w GROUP BY doc_id ORDER BY media_id""".stripMargin)),
    QueryDef("q141_bmp_decode", q141BmpDecode, Some(
      """WITH ys AS (
        |  SELECT doc_id, unnest(generate_series(0, 3 + doc_id % 4 - 1)) AS y
        |  FROM documents),
        |xs AS (
        |  SELECT doc_id, y, unnest(generate_series(0, 4 + doc_id % 5 - 1)) AS x
        |  FROM ys),
        |p AS (
        |  SELECT doc_id, y, x,
        |         CAST(4 + doc_id % 5 AS INT) AS w,
        |         CAST(3 + doc_id % 4 AS INT) AS h,
        |         (doc_id + 17 * y + 29 * x) % 256 AS b,
        |         (doc_id + 23 * y + 31 * x) % 256 AS g,
        |         (doc_id + 13 * y + 37 * x) % 256 AS r
        |  FROM xs)
        |SELECT doc_id AS media_id,
        |       max(w) AS width, max(h) AS height,
        |       CAST(sum(b) AS BIGINT) AS sum_b,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(r) AS BIGINT) AS sum_r,
        |       CAST((max(w) + 1) // 2 AS INT) AS half_w,
        |       CAST((max(h) + 1) // 2 AS INT) AS half_h,
        |       CAST(sum(CASE WHEN y % 2 = 0 AND x % 2 = 0
        |                THEN b + g + r ELSE 0 END) AS BIGINT) AS half_sum
        |FROM p GROUP BY doc_id ORDER BY media_id""".stripMargin)),
    // the streamed dual-write reassembles the same audit — one oracle
    QueryDef("q143b_media_stream", q143bMediaStream, Some(mediaDlqOracle), streaming = true),
    QueryDef("q143_media_dlq", q143MediaDlq, Some(mediaDlqOracle)),
    // q202: the oracle regenerates luma ONLY at the 11x6 sampled grid
    // positions of the synth recipe (b=g=r=v makes gray = v exactly),
    // packs the 60 gradient bits with shifts, then takes the
    // quadratic bit_count(xor) <= 3 pairs — the Spark side must
    // recover identical fingerprints by PARSING THE ENCODED BMPs and
    // identical pairs through the banded pigeonhole join.
    QueryDef("q202_image_neardup", q202ImageNearDup, Some(imageNearDupSql)),
    // q209 rebuilds the same census from the stream-maintained
    // fingerprint index — streamed ingest ≡ batch decode, one oracle
    QueryDef("q209_stream_image_index", q209StreamImageIndex,
      Some(imageNearDupSql), streaming = true),
    // q226: both fingerprint families regenerated (the image dHash
    // closed form + the caption simhash md5-bit rebuild), both pair
    // sets, the OR-union, and the per-side + combined censuses
    QueryDef("q226_crossmodal_dedup", q226CrossModalDedup, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 16 <= 1 THEN doc_id - doc_id % 16
        |              ELSE doc_id END AS base,
        |         doc_id % 4 AS variant
        |  FROM documents),
        |d2 AS (
        |  SELECT doc_id, base, variant,
        |         CAST(16 + base % 5 AS INT) AS w,
        |         CAST(12 + base % 3 AS INT) AS h
        |  FROM d),
        |gys AS (SELECT d2.*, unnest(generate_series(0, 5)) AS gy FROM d2),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, gy, gx,
        |         ((base * 37 + ((gy * h) // 6) * 11 + ((gx * w) // 11) * 29
        |           + (((gx * w) // 11) * ((gy * h) // 6) + base) % 13) % 16) * 2
        |           + (variant * (1 + ((gy * h) // 6) * 5 + ((gx * w) // 11) * 3))
        |             % 3 % 2 AS gray
        |  FROM grid),
        |bb AS (
        |  SELECT doc_id, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS ngray
        |  FROM v),
        |ifp AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |           THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |           ELSE 0 END) AS BIGINT) AS fp
        |  FROM bb GROUP BY doc_id),
        |ip AS (
        |  SELECT a.doc_id AS ia, c.doc_id AS ib
        |  FROM ifp a JOIN ifp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |th AS (SELECT doc_id, substring(md5(tok), 1, 15) AS hx FROM toks),
        |bs AS (
        |  SELECT doc_id, b.b,
        |         SUM(CASE WHEN (strpos('0123456789abcdef',
        |                               substring(hx, 15 - b.b // 4, 1)) - 1)
        |                       & (1 << (b.b % 4)) != 0 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) b
        |  GROUP BY doc_id, b.b),
        |cfp AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN s > 0
        |             THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS fp
        |  FROM bs GROUP BY doc_id),
        |cp AS (
        |  SELECT a.doc_id AS ia, c.doc_id AS ib
        |  FROM cfp a JOIN cfp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 3),
        |isym AS (SELECT ia AS pair_id, ib AS nbr FROM ip
        |         UNION ALL SELECT ib, ia FROM ip),
        |csym AS (SELECT ia AS pair_id, ib AS nbr FROM cp
        |         UNION ALL SELECT ib, ia FROM cp),
        |asym AS (SELECT DISTINCT pair_id, nbr FROM
        |         (SELECT * FROM isym UNION ALL SELECT * FROM csym)),
        |inn AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_img_nbrs
        |        FROM isym GROUP BY 1),
        |cnn AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_cap_nbrs
        |        FROM csym GROUP BY 1),
        |ann AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_dup_nbrs,
        |               min(nbr) AS min_nbr
        |        FROM asym GROUP BY 1)
        |SELECT dd.doc_id AS pair_id,
        |       COALESCE(inn.n_img_nbrs, 0) AS n_img_nbrs,
        |       COALESCE(cnn.n_cap_nbrs, 0) AS n_cap_nbrs,
        |       COALESCE(ann.n_dup_nbrs, 0) AS n_dup_nbrs,
        |       ann.min_nbr,
        |       (ann.min_nbr IS NULL OR ann.min_nbr > dd.doc_id) AS keep
        |FROM documents dd
        |LEFT JOIN inn ON inn.pair_id = dd.doc_id
        |LEFT JOIN cnn ON cnn.pair_id = dd.doc_id
        |LEFT JOIN ann ON ann.pair_id = dd.doc_id
        |ORDER BY pair_id""".stripMargin)),
    // q219: samples, frame assignment, exact energies, gradient
    // bits, and the quadratic verify all regenerated
    QueryDef("q219_audio_neardup", q219AudioNearDup, Some(audioNearDupSql)),
    // q235: FLAC is lossless — the mixed WAV/FLAC corpus decodes to
    // q219's exact samples, so its closed-form census is the oracle
    QueryDef("q235_flac_neardup", q235FlacNearDup, Some(audioNearDupSql)),
    // q246: the census closed form on the SOURCE samples of the
    // margin-designed staircase corpus — the MPEG-decoded fingerprints
    // must land exactly on it (lossy wire, invariant fingerprint)
    QueryDef("q246_mpeg_neardup", q246MpegNearDup, Some(mpegNearDupSql)),
    // q247: streamed ingest of the same corpus — deterministic decode
    // means the maintained index reproduces q246 exactly
    QueryDef("q247_stream_mpeg_index", q247StreamMpegIndex, Some(mpegNearDupSql), streaming = true),
    // q236: streamed index ≡ batch fingerprints (deterministic
    // decode + idempotent partitions) — q219/q235's oracle again
    QueryDef("q236_stream_flac_index", q236StreamFlacIndex,
      Some(audioNearDupSql), streaming = true),
    // q227/q228: streamed index ≡ batch fingerprints row-for-row
    // (deterministic decode + idempotent batch partitions), so the
    // index-served censuses share their batch twins' oracles verbatim
    QueryDef("q227_stream_audio_index", q227StreamAudioIndex,
      Some(audioNearDupSql), streaming = true),
    // q230: samples, window + clip frame geometries, exact energies,
    // gradient bits, candidate offsets, the vote, both censuses
    QueryDef("q230_audio_seq_neardup", q230AudioSeqNearDup, Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id // 32 AS base, doc_id % 32 AS delayed,
        |         CAST(6 + (doc_id // 32) % 4 AS BIGINT) AS nw
        |  FROM documents WHERE doc_id % 32 IN (0, 1)),
        |g AS (SELECT d.*, unnest(generate_series(0, nw * 100 - 1)) AS gi FROM d),
        |s AS (
        |  SELECT doc_id, nw, gi,
        |         ((base * 7919
        |           + (CASE WHEN delayed = 1 AND gi >= 100
        |              THEN gi - 100 ELSE gi END) * 104729) % 4096) - 2048 AS v
        |  FROM g),
        |we AS (
        |  SELECT doc_id, nw, gi // 100 AS k, ((gi % 100) * 61) // 100 AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3, 4),
        |ww AS (
        |  SELECT doc_id, nw, k, f, en,
        |         lead(en) OVER (PARTITION BY doc_id, k ORDER BY f) AS nen
        |  FROM we),
        |wfp AS (
        |  SELECT doc_id, max(nw) AS nw, k,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM ww GROUP BY doc_id, k),
        |ce AS (
        |  SELECT doc_id, nw, (gi * 61) // (nw * 100) AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM s GROUP BY 1, 2, 3),
        |cw AS (
        |  SELECT doc_id, nw, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM ce),
        |cfp AS (
        |  SELECT doc_id, max(nw) * 100 AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM cw GROUP BY doc_id),
        |cp AS (
        |  SELECT a.doc_id AS ia, c.doc_id AS ib
        |  FROM cfp a JOIN cfp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |csym AS (SELECT ia AS media_id, ib AS nbr FROM cp
        |         UNION ALL SELECT ib, ia FROM cp),
        |cn AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_clip_nbrs
        |       FROM csym GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ma, c.doc_id AS mb, c.k - a.k AS o
        |  FROM wfp a JOIN wfp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |votes AS (
        |  SELECT cand.ma, cand.mb, cand.o,
        |         CAST(sum(CASE WHEN bit_count(xor(a.fp, c.fp)) <= 2
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS votes
        |  FROM cand
        |  JOIN wfp a ON a.doc_id = cand.ma
        |  JOIN wfp c ON c.doc_id = cand.mb AND c.k = a.k + cand.o
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT ma, mb, max(votes) AS max_votes FROM votes GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM wfp GROUP BY 1),
        |sp AS (
        |  SELECT b.ma, b.mb FROM best b
        |  JOIN lens la ON la.doc_id = b.ma
        |  JOIN lens lb ON lb.doc_id = b.mb
        |  WHERE b.max_votes * 2 >= least(la.len, lb.len) + 1),
        |ssym AS (SELECT ma AS media_id, mb AS nbr FROM sp
        |         UNION ALL SELECT mb, ma FROM sp),
        |sn AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_seq_nbrs,
        |         min(nbr) AS min_seq_nbr
        |  FROM ssym GROUP BY media_id)
        |SELECT c.doc_id AS media_id, CAST(c.n_samples AS BIGINT) AS n_samples,
        |       l.len AS n_windows,
        |       COALESCE(cn.n_clip_nbrs, 0) AS n_clip_nbrs,
        |       COALESCE(sn.n_seq_nbrs, 0) AS n_seq_nbrs,
        |       sn.min_seq_nbr,
        |       (sn.min_seq_nbr IS NULL OR sn.min_seq_nbr > c.doc_id) AS keep
        |FROM cfp c
        |JOIN lens l ON l.doc_id = c.doc_id
        |LEFT JOIN cn ON cn.media_id = c.doc_id
        |LEFT JOIN sn ON sn.media_id = c.doc_id
        |ORDER BY media_id""".stripMargin)),
    // q220: each modality's census embedded as a subquery of its own
    // shared oracle (ORDER BY stripped), then the reduction rollup
    QueryDef("q220_multimodal_dedup", q220MultimodalDedup, Some(multimodalDedupSql)),
    // q222: keyframe index closed form, luma at the identity grid,
    // gradient bits, quadratic verify, census — all regenerated
    QueryDef("q222_video_neardup", q222VideoNearDup, Some(videoNearDupSql)),
    QueryDef("q228_stream_video_index", q228StreamVideoIndex,
      Some(videoNearDupSql), streaming = true),
    // q223: cluster pattern, the closed-form decoded fingerprint
    // (strict ±88-luma strips survive lossy decode bit-exactly),
    // and the census rebuilt from the cluster membership alone
    QueryDef("q223_jpeg_neardup", q223JpegNearDup, Some(jpegNearDupSql)),
    // q231: streamed JPEG index ≡ batch fingerprints row-for-row
    // (deterministic decode + idempotent partitions) — q223's oracle
    QueryDef("q231_stream_jpeg_index", q231StreamJpegIndex, Some(jpegNearDupSql), streaming = true),
    // q229: decode succeeds on exactly the non-corrupt ids — the
    // planted corruption classes are pure id arithmetic
    QueryDef("q229_jpeg_dlq", q229JpegDlq, Some(
      """SELECT doc_id % 10 NOT IN (4, 7) AS decoded,
        |       CAST(count(*) AS BIGINT) AS n_media,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |GROUP BY 1 ORDER BY decoded""".stripMargin)),
    // q237: gzip is lossless and the planted trailer corruption is
    // membership-deterministic — the oracle replays text identity
    // and the DLQ split straight from the documents table
    QueryDef("q237_gzip_corpus", q237GzipCorpus, Some(
      """SELECT doc_id,
        |       (doc_id % 10 != 6) AS ok,
        |       CASE WHEN doc_id % 10 != 6 THEN length(text) END AS n_chars,
        |       CASE WHEN doc_id % 10 != 6 THEN md5(text) END AS digest
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // q258: archive-grain membership + text identity — corrupt
    // archives (id % 7 == 3) drop WHOLE, survivors replay exactly
    QueryDef("q258_targz_ingest", q258TarGzIngest, Some(
      """SELECT doc_id // 16 AS archive_id, doc_id,
        |       length(text) AS n_chars,
        |       md5(text) AS digest
        |FROM documents WHERE (doc_id // 16) % 7 != 3
        |ORDER BY doc_id""".stripMargin)),
    // q259: member-grain membership — exactly ONE doc (the first of
    // each corrupted archive) drops; 15 siblings survive
    QueryDef("q259_zip_ingest", q259ZipIngest, Some(
      """SELECT doc_id // 16 AS archive_id, doc_id,
        |       length(text) AS n_chars,
        |       md5(text) AS digest
        |FROM documents
        |WHERE NOT ((doc_id // 16) % 5 = 2 AND doc_id % 16 = 0)
        |ORDER BY doc_id""".stripMargin)),
    // q240: the WARC fixture is lossless on every wire — record
    // counts, URIs, and text identity replay from documents alone
    QueryDef("q240_warc_ingest", q240WarcIngest, Some(
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_records,
        |       'http://example.com/doc/' || doc_id AS target_uri,
        |       md5(text) AS digest,
        |       length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // q241: streamed store ≡ batch parse (deterministic decode +
    // idempotent partitions) — q240's oracle verbatim
    QueryDef("q241_stream_warc", q241StreamWarcIngest, Some(
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_records,
        |       'http://example.com/doc/' || doc_id AS target_uri,
        |       md5(text) AS digest,
        |       length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin), streaming = true),
    // q232/q233: PNG is lossless and the mixed corpus reuses the same
    // strip recipe, so the JPEG closed-form census is the oracle for
    // all three image-codec censuses
    QueryDef("q232_png_neardup", q232PngNearDup, Some(jpegNearDupSql)),
    // q242: planted tEXt values replay from documents alone
    QueryDef("q242_image_metadata", q242ImageMetadata, Some(
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_meta,
        |       'doc ' || doc_id AS title,
        |       COALESCE(lang, '') AS language,
        |       CAST(doc_id % 7 AS VARCHAR) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q233_mixed_image_neardup", q233MixedImageNearDup, Some(jpegNearDupSql)),
    // q234: same census at thumbnail dims — the 2:1 bilinear resample
    // provably preserves strip values and the dHash sampling grid
    QueryDef("q234_thumbnail_neardup", q234ThumbnailNearDup, Some(jpegNearDupSql.replace(
      "CAST(44 AS INT) AS width, CAST(24 AS INT) AS height",
      "CAST(22 AS INT) AS width, CAST(12 AS INT) AS height"))),
    // q238: every frame fingerprint replayed from the planted-shot
    // recipe, then the SAME lag + bit_count rule and aggregation
    QueryDef("q238_shot_detect", q238ShotDetect, Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(12 + (doc_id // 16) % 7 AS BIGINT) AS n,
        |         CAST(2 + (doc_id // 16) % 3 AS BIGINT) AS sl
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, n - 1)) AS f FROM d),
        |sfr AS (SELECT doc_id, base, n, f, f // sl AS s FROM fr),
        |gys AS (SELECT sfr.*, unnest(generate_series(0, 5)) AS gy FROM sfr),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, n, f, gy, gx,
        |         ((base * 37 + s * 7 + gy * 11 + gx * 29
        |           + (gx * gy + s + base) % 13) % 16) * 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, n, f, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)
        |           AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(n) AS n, f,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, n, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, n, f,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged)
        |SELECT doc_id AS media_id, max(n) AS n_frames,
        |       CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
        |       CAST(sum(CASE WHEN ib THEN f END) AS BIGINT) AS boundary_idx_sum,
        |       CAST(max(CASE WHEN ib THEN f END) AS BIGINT) AS last_shot_start
        |FROM marked GROUP BY doc_id ORDER BY media_id""".stripMargin)),
    // q239: scene assignment, frame fingerprints, segmentation,
    // shot representatives, the cross-clip pair surface, and the
    // census all replayed from the shared-scene-pool recipe
    QueryDef("q239_scene_dedup", q239SceneDedup, Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(5 + (doc_id // 16) % 3 AS BIGINT) AS ns
        |  FROM documents WHERE doc_id % 16 = 0),
        |fr AS (SELECT d.*, unnest(generate_series(0, ns * 2 - 1)) AS f FROM d),
        |sfr AS (
        |  SELECT doc_id, base, ns, f,
        |         CASE WHEN (base + f // 2) % 4 = 1
        |              THEN 1000 + base * 8 + f // 2
        |              ELSE (base + f // 2) % 6 END AS sc
        |  FROM fr),
        |gys AS (SELECT sfr.*, unnest(generate_series(0, 5)) AS gy FROM sfr),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, f, gy, gx,
        |         ((sc * 31 + gy * 11 + gx * 29
        |           + (gx * gy + sc) % 13) % 16) * 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, f, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)
        |           AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, f,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, f, fp,
        |         lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pfp
        |  FROM fp),
        |marked AS (
        |  SELECT doc_id, f, fp,
        |         (pfp IS NULL OR bit_count(xor(fp, pfp)) > 2) AS ib
        |  FROM lagged),
        |shots AS (
        |  SELECT doc_id, fp,
        |         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY f) - 1 AS BIGINT)
        |           AS shot_idx, ib
        |  FROM marked),
        |reps AS (
        |  SELECT doc_id, shot_idx, doc_id * 64 + shot_idx AS uid, fp
        |  FROM shots WHERE ib),
        |pairs AS (
        |  SELECT a.uid AS ua, c.uid AS ub
        |  FROM reps a JOIN reps c ON a.uid < c.uid
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2
        |    AND a.doc_id != c.doc_id),
        |sym AS (
        |  SELECT DISTINCT uid FROM (
        |    SELECT ua AS uid FROM pairs UNION ALL SELECT ub FROM pairs)),
        |shared AS (
        |  SELECT r.doc_id, r.shot_idx FROM reps r JOIN sym ON sym.uid = r.uid),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots
        |  FROM reps GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shots,
        |         max(CASE WHEN shot_idx = 0 THEN 1 ELSE 0 END) AS intro_l
        |  FROM shared GROUP BY doc_id)
        |SELECT tot.doc_id AS media_id, tot.n_shots,
        |       COALESCE(sh.n_shared_shots, 0) AS n_shared_shots,
        |       (COALESCE(sh.intro_l, 0) = 1) AS intro_shared
        |FROM tot LEFT JOIN sh ON sh.doc_id = tot.doc_id
        |ORDER BY media_id""".stripMargin)),
    // q250: the MPEG-1 strip-walk keyframe fingerprint in closed form
    // (adjacent-distinct level walk → 10 gradient bits → ×6-row
    // replication constant), then q222's pair + census tail verbatim
    QueryDef("q250_mpeg_keyframe_neardup", q250MpegKeyframeNearDup, Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS base,
        |         CAST(6 + (doc_id // 4) % 5 AS BIGINT) AS n
        |  FROM documents),
        |k AS (
        |  SELECT d.*, (n + 1) // 2 AS m,
        |         2 * (((n + 1) // 2) // 2) AS kf
        |  FROM d),
        |ks AS (SELECT doc_id, n, m, base * 97 + kf * 31 AS s FROM k),
        |g AS (SELECT ks.*, unnest(generate_series(0, 10)) AS gx FROM ks),
        |dd AS (
        |  SELECT doc_id, n, m, s, gx,
        |         CASE WHEN gx = 0 THEN 0
        |              ELSE (s * (gx + 3) + gx * gx) % 2 END AS dbit
        |  FROM g),
        |lv AS (
        |  SELECT doc_id, n, m, gx,
        |         (s + gx + sum(dbit)
        |            OVER (PARTITION BY doc_id ORDER BY gx)) % 3 AS lev
        |  FROM dd),
        |bt AS (
        |  SELECT doc_id, n, m, gx, lev,
        |         lead(lev) OVER (PARTITION BY doc_id ORDER BY gx) AS nlev
        |  FROM lv),
        |fp AS (
        |  SELECT doc_id, max(n) AS n_frames, max(m) AS n_sampled,
        |         CAST(sum(CASE WHEN gx < 10 AND lev < nlev
        |                  THEN (CAST(1 AS BIGINT) << gx) * 1127000493261825
        |                  ELSE 0 END) AS BIGINT) AS key_fp
        |  FROM bt GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.key_fp, c.key_fp)) <= 3),
        |sym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |nb AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_nbrs,
        |         min(nbr) AS min_nbr
        |  FROM sym GROUP BY media_id)
        |SELECT f.doc_id AS media_id, f.n_frames, f.n_sampled, f.key_fp,
        |       COALESCE(nb.n_nbrs, 0) AS n_nbrs, nb.min_nbr,
        |       (nb.min_nbr IS NULL OR nb.min_nbr > f.doc_id) AS keep
        |FROM fp f LEFT JOIN nb ON nb.media_id = f.doc_id
        |ORDER BY media_id""".stripMargin)),
    // q251: per-frame strip-walk fingerprints replayed (shot-keyed
    // walk), then q238's lag + bit_count rule and census verbatim
    QueryDef("q251_mpeg_shot_detect", q251MpegShotDetect, Some(MpegShotOracleSql)),
    // q252: scene assignment + scene-keyed strip walk, then q239's
    // segmentation, representative, pair, and census replay verbatim
    QueryDef("q252_mpeg_scene_dedup", q252MpegSceneDedup, Some(MpegSceneOracleSql)),
    // q253: the IDENTICAL closed form — the I+P wire and the luma
    // flicker are fingerprint-invariant by construction
    QueryDef("q253_mpeg_ipp_shot_detect", q253MpegIppShotDetect, Some(MpegShotOracleSql)),
    // q254: q252 replayed on the I+P wire (same invariance argument)
    QueryDef("q254_mpeg_ipp_scene_dedup", q254MpegIppSceneDedup, Some(MpegSceneOracleSql)),
    // q255: same closed form again on the I/P/B wire — bidirectional
    // prediction and the display reorder are fingerprint-invariant
    QueryDef("q255_mpeg_b_shot_detect", q255MpegBShotDetect, Some(MpegShotOracleSql)),
    // q256: q252's closed form on the I/P/B wire
    QueryDef("q256_mpeg_b_scene_dedup", q256MpegBSceneDedup, Some(MpegSceneOracleSql)),
    // q257: BOTH closed forms joined — the video strip-walk shot
    // census (q251's chain) and the audio staircase energy
    // fingerprint (q246's chain) replayed from the documents table
    QueryDef("q257_muxed_av_census", q257MuxedAvCensus, Some((MpegShotCtes +
      """,
        |vstats AS (
        |  SELECT doc_id AS media_id, max(n) AS n_frames,
        |         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
        |         CAST(sum(CASE WHEN ib THEN f END) AS BIGINT) AS boundary_idx_sum,
        |         CAST(max(CASE WHEN ib THEN f END) AS BIGINT) AS last_shot_start
        |  FROM marked GROUP BY doc_id),
        |ad AS (
        |  SELECT doc_id, doc_id // 16 AS base,
        |         CAST(200 + (doc_id // 16) % 50 AS BIGINT) AS ns,
        |         (doc_id // 16) % 4 AS variant
        |  FROM documents WHERE doc_id % 16 = 0),
        |ai AS (SELECT ad.*, unnest(generate_series(0, ns - 1)) AS j FROM ad),
        |asamp AS (
        |  SELECT doc_id, ns, j,
        |         400 * (1 + (base * 7 + 3 * ((j * 61) // ns)) % 4)
        |           + (CASE WHEN variant > 0 AND (j * 61) // ns = 56 + variant
        |              THEN 800 ELSE 0 END) AS v
        |  FROM ai),
        |ae AS (
        |  SELECT doc_id, ns, (j * 61) // ns AS f,
        |         CAST(sum(v * v) AS BIGINT) AS en
        |  FROM asamp GROUP BY 1, 2, 3),
        |aw AS (
        |  SELECT doc_id, ns, f, en,
        |         lead(en) OVER (PARTITION BY doc_id ORDER BY f) AS nen
        |  FROM ae),
        |afp AS (
        |  SELECT doc_id, max(ns) AS n_samples,
        |         CAST(sum(CASE WHEN f < 60 AND en < nen
        |                  THEN CAST(1 AS BIGINT) << CAST(f AS INT)
        |                  ELSE 0 END) AS BIGINT) AS audio_fp
        |  FROM aw GROUP BY doc_id)
        |SELECT vstats.media_id, vstats.n_frames, vstats.n_shots,
        |       vstats.boundary_idx_sum, vstats.last_shot_start,
        |       afp.audio_fp, afp.n_samples
        |FROM vstats JOIN afp ON afp.doc_id = vstats.media_id
        |ORDER BY media_id""".stripMargin))),
    // q224: every frame fingerprint in closed form, candidate
    // offsets from the frame-level quadratic verify, the aligned
    // vote, the majority threshold, and both censuses replayed
    QueryDef("q224_video_seq_neardup", q224VideoSeqNearDup, Some(
      """WITH d AS (
        |  SELECT doc_id, doc_id // 32 AS base, doc_id % 32 AS delayed,
        |         CAST(8 + (doc_id // 32) % 5 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 32 IN (0, 1)),
        |fr AS (SELECT d.*, unnest(generate_series(0, n - 1)) AS f FROM d),
        |sfr AS (
        |  SELECT doc_id, base, n, f,
        |         CASE WHEN delayed = 1 THEN greatest(f - 1, 0) ELSE f END AS sf
        |  FROM fr),
        |gys AS (SELECT sfr.*, unnest(generate_series(0, 5)) AS gy FROM sfr),
        |grid AS (SELECT gys.*, unnest(generate_series(0, 10)) AS gx FROM gys),
        |v AS (
        |  SELECT doc_id, n, f, gy, gx,
        |         ((base * 37 + sf * 7 + gy * 11 + gx * 29
        |           + (gx * gy + sf + base) % 13) % 16) * 2 AS gray
        |  FROM grid),
        |b AS (
        |  SELECT doc_id, n, f, gy, gx, gray,
        |         lead(gray) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)
        |           AS ngray
        |  FROM v),
        |fp AS (
        |  SELECT doc_id, max(n) AS n, f,
        |         CAST(sum(CASE WHEN gx < 10 AND gray < ngray
        |                  THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
        |                  ELSE 0 END) AS BIGINT) AS fp
        |  FROM b GROUP BY doc_id, f),
        |keyf AS (SELECT doc_id, n, fp FROM fp WHERE f = n // 2),
        |kp AS (
        |  SELECT a.doc_id AS ida, c.doc_id AS idb
        |  FROM keyf a JOIN keyf c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |ksym AS (
        |  SELECT ida AS media_id, idb AS nbr FROM kp
        |  UNION ALL SELECT idb, ida FROM kp),
        |kn AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_key_nbrs
        |  FROM ksym GROUP BY media_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ma, c.doc_id AS mb, c.f - a.f AS o
        |  FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.fp, c.fp)) <= 2),
        |votes AS (
        |  SELECT cand.ma, cand.mb, cand.o,
        |         CAST(sum(CASE WHEN bit_count(xor(a.fp, c.fp)) <= 2
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS votes
        |  FROM cand
        |  JOIN fp a ON a.doc_id = cand.ma
        |  JOIN fp c ON c.doc_id = cand.mb AND c.f = a.f + cand.o
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT ma, mb, max(votes) AS max_votes FROM votes GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM fp GROUP BY 1),
        |sp AS (
        |  SELECT b.ma, b.mb FROM best b
        |  JOIN lens la ON la.doc_id = b.ma
        |  JOIN lens lb ON lb.doc_id = b.mb
        |  WHERE b.max_votes * 2 >= least(la.len, lb.len) + 1),
        |ssym AS (
        |  SELECT ma AS media_id, mb AS nbr FROM sp
        |  UNION ALL SELECT mb, ma FROM sp),
        |sn AS (
        |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_seq_nbrs,
        |         min(nbr) AS min_seq_nbr
        |  FROM ssym GROUP BY media_id)
        |SELECT k.doc_id AS media_id, CAST(k.n AS BIGINT) AS n_frames,
        |       COALESCE(kn.n_key_nbrs, 0) AS n_key_nbrs,
        |       COALESCE(sn.n_seq_nbrs, 0) AS n_seq_nbrs,
        |       sn.min_seq_nbr,
        |       (sn.min_seq_nbr IS NULL OR sn.min_seq_nbr > k.doc_id) AS keep
        |FROM keyf k
        |LEFT JOIN kn ON kn.media_id = k.doc_id
        |LEFT JOIN sn ON sn.media_id = k.doc_id
        |ORDER BY media_id""".stripMargin))
  )
}
