package graft.ext

/** MPEG-1 Audio Layer I codec (ISO/IEC 11172-3) — the LOSSY audio
  * tier, replacing the former stand-in fake (now the format-blind
  * [[Multimodal.ByteHistogram]]) with a real wire format. The reference pipeline has no audio at all (its
  * largest media is a JSON blob — glue/data_ingestion_s3.py:30); this
  * tier exists for the training-data north star, where crawl audio
  * arrives MPEG-coded.
  *
  * What is TABLE-EXACT per the public spec:
  *  - frame header fields and the Layer I bitrate table
  *    (§2.4.2.3: 32..448 kbps) and sampling-rate table (44.1/48/32 kHz);
  *  - the optional CRC-16 (polynomial x^16+x^15+x^2+1, protecting the
  *    header tail + bit allocation, §2.4.3.1);
  *  - Layer I bit allocation (4-bit codes, nb = code+1 ∈ 2..15, code
  *    15 forbidden) and the 6-bit scalefactor indices with the
  *    CLOSED-FORM table sf(i) = 2·2^(−i/3) (Table B.1 is exactly this
  *    geometric sequence);
  *  - the requantization formula s″ = (2^nb/(2^nb−1))·(s‴ + 2^(1−nb))
  *    with s‴ in inverted-MSB offset binary (§2.4.3.3);
  *  - the polyphase structure: 32-subband cosine modulation with the
  *    exact matrixing N(i,k) = cos((16+i)(2k+1)π/64) (synthesis,
  *    §2.4.3.2/Annex A) and M(i,k) = cos((2i+1)(k−16)π/64) (analysis,
  *    Annex C), the 512-tap windowed fold with the (−1)^⌊m/64⌋
  *    block-sign convention the fold implies.
  *
  * DISCLOSED approximation: the 512 printed prototype-window
  * coefficients (Table B.3) have no closed form and are not available
  * in this environment, so the prototype here is an analytic
  * frequency-sampled design with a root-raised-cosine band-edge
  * (power-complementary crossover — see `Proto`), gain and group
  * delay CALIBRATED at init by driving an impulse through the
  * unquantized cascade (measured: ~46-56 dB reconstruction across the
  * band, exact cancellation at band edges). Encoder and decoder share
  * the prototype, so the codec is self-consistent and `Mpeg1Spec`
  * pins reconstruction SNR; a third-party stream would decode with
  * the structural pipeline but a slightly different reconstruction
  * filter than the reference decoder (conformance in ISO 11172-4 is
  * an RMS bound, not bit-exactness).
  *
  * Gapless trim: MPEG frames are 384-sample quanta and the filterbank
  * has inherent delay, so — exactly like real-world LAME/iTunes
  * gapless playback — the encoder stores (delay, original length) as
  * an ancillary-data tag in the first frame's slack bits and the
  * decoder trims to the original samples. Without the tag the decoder
  * returns the raw frame-quantized output.
  *
  * Corrupt-safe: decode returns `Option`, never throws (the
  * Flac/Png/Gzip discipline), with a decode-bomb output cap.
  */
object Mpeg1 {

  private final class Malformed extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Malformed

  // ------------------------------------------------- public tables
  /** Layer I bitrates, kbps (index 0 = free format, unsupported). */
  private val BitratesL1 = Array(
    0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val SampleRates = Array(44100, 48000, 32000)

  /** Scalefactor table — Table B.1 IS the geometric sequence
    * 2·2^(−i/3), i = 0..62 (index 63 forbidden).
    */
  private val Scalefactors: Array[Double] =
    Array.tabulate(63)(i => 2.0 * StrictMath.pow(2.0, -i / 3.0))

  // ------------------------------------------ filterbank (calibrated)
  /** Analysis matrixing M(i,k) = cos((2i+1)(k−16)π/64). */
  private val MatA: Array[Array[Double]] = Array.tabulate(32, 64)((i, k) =>
    StrictMath.cos((2 * i + 1) * (k - 16) * StrictMath.PI / 64))

  /** Synthesis matrixing N(i,k) = cos((16+i)(2k+1)π/64). */
  private val MatS: Array[Array[Double]] = Array.tabulate(64, 32)((i, k) =>
    StrictMath.cos((16 + i) * (2 * k + 1) * StrictMath.PI / 64))

  /** Analytic prototype p[m], frequency-sampled on the 512-point grid
    * (bin spacing π/256; the π/64 band edge is bin 4) with a
    * ROOT-RAISED-COSINE transition of ±4 bins around the edge —
    * |P(ω)|² + |P(π/32 − ω)|² = 1 across the crossover by
    * construction, the power-complementarity a pseudo-QMF cosine bank
    * needs for a flat distortion function (a plain windowed sinc
    * crosses at −6 dB instead of −3 dB and costs ~25 dB of
    * reconstruction). Linear phase centered at tap 256 — the integer
    * center the ISO ±16 matrixing phases require for the alternating
    * ±π/4 alias-cancellation phases (the printed Table B.3 likewise
    * leads with 0.0: 511 effective taps around 256).
    */
  private val Proto: Array[Double] = {
    val edgeBin = 4.0 // π/64 on the 512-point grid
    val w = 4.0 // transition half-width in bins
    def amp(k: Int): Double =
      if (k <= edgeBin - w) 1.0
      else if (k >= edgeBin + w) 0.0
      else StrictMath.sqrt(
        0.5 * (1.0 + StrictMath.cos(StrictMath.PI * (k - (edgeBin - w)) / (2 * w))))
    Array.tabulate(512) { m =>
      val t = (m - 256).toDouble
      var acc = amp(0)
      var k = 1
      while (k < 256) {
        acc += 2.0 * amp(k) * StrictMath.cos(2 * StrictMath.PI * k * t / 512.0)
        k += 1
      }
      acc / 512.0
    }
  }

  /** The fold Y[k] = Σ_j Z[k+64j] makes the effective filter
    * h_i[m] = C[m]·(−1)^⌊m/64⌋·cos((2i+1)(m−16)π/64), so the window
    * carries the (−1)^⌊m/64⌋ block sign to realize prototype
    * modulation — the same sign pattern visible down the printed
    * Table B.3 columns.
    */
  private def blockSign(m: Int): Double = if (((m >> 6) & 1) == 0) 1.0 else -1.0

  private val WinC: Array[Double] =
    Array.tabulate(512)(m => Proto(m) * blockSign(m))

  /** Synthesis window before gain calibration (same sign rule — the
    * U-fold implies it identically, see the derivation in WinC's doc).
    */
  private val winDRaw: Array[Double] =
    Array.tabulate(512)(m => Proto(m) * blockSign(m))

  /** (gain, delay) calibrated by an impulse through the unquantized
    * analysis→synthesis cascade: `Delay` is where the impulse peaks,
    * `WinD` is winDRaw scaled so the cascade has unity gain there.
    * Pure deterministic init — no spec table required.
    */
  private val calibration: (Double, Int) = {
    val n = 1536
    val x = new Array[Double](n)
    x(384) = 1.0
    val y = cascade(x)
    var peak = 0.0; var at = 0
    var i = 0
    while (i < y.length) {
      if (StrictMath.abs(y(i)) > peak) { peak = StrictMath.abs(y(i)); at = i }
      i += 1
    }
    (y(at), at - 384)
  }

  /** Filterbank group delay in samples (analysis + synthesis). */
  private[ext] val Delay: Int = calibration._2

  private val WinD: Array[Double] = winDRaw.map(_ / calibration._1)

  /** Unquantized float cascade (analysis → synthesis with the UNSCALED
    * winDRaw) — used only for gain/delay calibration at init.
    */
  private def cascade(x: Array[Double]): Array[Double] = {
    val an = new Analysis
    val sy = new Synthesis(winDRaw)
    val out = new Array[Double](x.length)
    val s = new Array[Double](32)
    var t = 0
    while ((t + 1) * 32 <= x.length) {
      an.step(x, t * 32, s)
      sy.step(s, out, t * 32)
      t += 1
    }
    out
  }

  /** Sliding analysis state (ISO Annex C figure C.4): 512-sample FIFO,
    * newest at X(0); each step consumes 32 samples → 32 subband values.
    */
  private final class Analysis {
    private val X = new Array[Double](512)
    def step(x: Array[Double], off: Int, outS: Array[Double]): Unit = {
      var i = 511
      while (i >= 32) { X(i) = X(i - 32); i -= 1 }
      i = 0
      while (i < 32) { X(31 - i) = x(off + i); i += 1 }
      val y = new Array[Double](64)
      var k = 0
      while (k < 64) {
        var acc = 0.0
        var j = 0
        while (j < 8) { acc += WinC(k + 64 * j) * X(k + 64 * j); j += 1 }
        y(k) = acc
        k += 1
      }
      var sb = 0
      while (sb < 32) {
        var acc = 0.0
        val row = MatA(sb)
        var kk = 0
        while (kk < 64) { acc += row(kk) * y(kk); kk += 1 }
        outS(sb) = acc
        sb += 1
      }
    }
  }

  /** Synthesis state (ISO Annex A figure 3-A.2): 1024-value V FIFO;
    * each step consumes 32 subband values → 32 output samples.
    */
  private final class Synthesis(win: Array[Double]) {
    private val V = new Array[Double](1024)
    def step(s: Array[Double], out: Array[Double], off: Int): Unit = {
      var i = 1023
      while (i >= 64) { V(i) = V(i - 64); i -= 1 }
      i = 0
      while (i < 64) {
        var acc = 0.0
        val row = MatS(i)
        var k = 0
        while (k < 32) { acc += row(k) * s(k); k += 1 }
        V(i) = acc
        i += 1
      }
      // U fold: U[64j+i] = V[128j+i]; U[64j+32+i] = V[128j+96+i]
      var r = 0
      while (r < 32) {
        var acc = 0.0
        var q = r
        while (q < 512) { // q = r + 32·i walks U; map U→V inline
          val j = q >> 6; val lo = q & 63
          val v = if (lo < 32) V(128 * j + lo) else V(128 * j + 96 + (lo - 32))
          acc += win(q) * v
          q += 32
        }
        out(off + r) = acc
        r += 1
      }
    }
  }

  // --------------------------------------------------------- encoder

  /** CRC-16 with polynomial 0x8005 over `nbits` bits of `data`
    * starting at bit offset `fromBit`, initial value 0xFFFF
    * (§2.4.3.1). Shared shape with Flac's framing CRC — same
    * generator polynomial, different init.
    */
  private def crc16(bits: Array[Byte], fromBit: Int, nbits: Int,
      init: Int = 0xffff): Int = {
    var c = init
    var i = 0
    while (i < nbits) {
      val bit = (bits((fromBit + i) >> 3) >> (7 - ((fromBit + i) & 7))) & 1
      val fb = ((c >> 15) & 1) ^ bit
      c = (c << 1) & 0xffff
      if (fb == 1) c ^= 0x8005
      i += 1
    }
    c
  }

  private final class BitWriter(capacity: Int) {
    val buf = new Array[Byte](capacity)
    var bitPos = 0
    def put(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        if (((v >> i) & 1) == 1) buf(bitPos >> 3) =
          (buf(bitPos >> 3) | (1 << (7 - (bitPos & 7)))).toByte
        bitPos += 1
        i -= 1
      }
    }
  }

  private final class BitReader(val data: Array[Byte]) {
    var bitPos = 0
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val byteAt = bitPos >> 3
        if (byteAt >= data.length) fail()
        v = (v << 1) | ((data(byteAt) >> (7 - (bitPos & 7))) & 1)
        bitPos += 1
        i += 1
      }
      v
    }
  }

  /** The fixed encode profile: 32 kHz (index 2), 448 kbps (index 14)
    * → 12·448000/32000 = 168 slots = 672 bytes per frame, zero
    * padding drift; nb = 12 for every subband (alloc code 11) leaves
    * 352 slack bits per frame for the gapless tag + zero fill.
    */
  private val EncSampleRateIdx = 2
  private val EncBitrateIdx = 14
  private val EncFrameBytes = 12 * 448000 / 32000 * 4
  private val EncNb = 12
  private val EncAllocCode = EncNb - 1

  private val TagMagic = 0x47524654L // "GRFT"

  /** Mono PCM16 → MPEG-1 Layer I bytes. Output decodes back (via the
    * gapless tag) to exactly `samples.length` samples approximating
    * the input (Mpeg1Spec pins the SNR bound).
    */
  def encode(samples: Array[Short]): Array[Byte] = {
    val n = samples.length
    val frames = math.max(1, (n + Delay + 383) / 384)
    val fed = frames * 384
    val x = new Array[Double](fed)
    var i = 0
    while (i < n) { x(i) = samples(i) / 32768.0; i += 1 }
    val an = new Analysis
    val out = new java.io.ByteArrayOutputStream(frames * EncFrameBytes)
    val s = Array.ofDim[Double](12, 32)
    var f = 0
    while (f < frames) {
      var t = 0
      while (t < 12) { an.step(x, f * 384 + t * 32, s(t)); t += 1 }
      // scalefactor per subband: smallest table value covering max |s|
      val sfIdx = new Array[Int](32)
      var sb = 0
      while (sb < 32) {
        var mx = 0.0
        t = 0
        while (t < 12) {
          val a = StrictMath.abs(s(t)(sb)); if (a > mx) mx = a; t += 1
        }
        var idx = 62
        while (idx > 0 && Scalefactors(idx) < mx) idx -= 1
        require(Scalefactors(idx) >= mx, "subband sample out of [-2,2) range")
        sfIdx(sb) = idx
        sb += 1
      }
      val w = new BitWriter(EncFrameBytes)
      // header: sync, ID=1, layer I='11', protection=0 (CRC present)
      w.put(0xfff, 12); w.put(1, 1); w.put(3, 2); w.put(0, 1)
      w.put(EncBitrateIdx, 4); w.put(EncSampleRateIdx, 2)
      w.put(0, 1); w.put(0, 1) // padding, private
      w.put(3, 2); w.put(0, 2) // mode: single_channel, mode_ext
      w.put(0, 1); w.put(1, 1); w.put(0, 2) // copyright, original, emphasis
      w.put(0, 16) // CRC placeholder (backfilled below)
      sb = 0
      while (sb < 32) { w.put(EncAllocCode.toLong, 4); sb += 1 }
      // CRC covers header bits 16..31 + the allocation block
      val crc = crc16(w.buf, 48, 128, init = crc16(w.buf, 16, 16))
      // backfill CRC at bits 32..47
      w.buf(4) = ((crc >> 8) & 0xff).toByte
      w.buf(5) = (crc & 0xff).toByte
      sb = 0
      while (sb < 32) { w.put(sfIdx(sb).toLong, 6); sb += 1 }
      t = 0
      while (t < 12) {
        sb = 0
        while (sb < 32) {
          val sf = Scalefactors(sfIdx(sb))
          // invert s″ = (2^nb/(2^nb−1))·(s‴ + 2^(1−nb)), s‴ = code/2^(nb−1) − 1
          val steps = (1 << EncNb) - 1
          val sTriple = s(t)(sb) / sf * steps / (1 << EncNb) -
            StrictMath.pow(2.0, 1 - EncNb)
          var code = StrictMath.round((sTriple + 1.0) * (1 << (EncNb - 1))).toInt
          if (code < 0) code = 0
          if (code > (1 << EncNb) - 1) code = (1 << EncNb) - 1
          w.put(code.toLong, EncNb)
          sb += 1
        }
        t += 1
      }
      if (f == 0) { // gapless tag in the first frame's ancillary bits
        val tagStart = w.bitPos
        w.put(TagMagic, 32)
        w.put(Delay.toLong, 16)
        w.put(n.toLong, 32)
        // CRC over (delay, n) so a flipped tag is rejected, not a
        // silent wrong trim
        w.put(crc16(w.buf, tagStart + 32, 48).toLong, 16)
      }
      out.write(w.buf, 0, EncFrameBytes)
      f += 1
    }
    out.toByteArray
  }


  // ------------------------------------------------ Layer II (reader+writer)

  /** Layer II bitrates, kbps (index 0 = free format, unsupported).
    * Mono streams allow at most 192 kbps (the allowed-combination
    * table of ISO 11172-3 2.4.2.3: 224..384 are stereo-only).
    */
  private val BitratesL2 = Array(
    0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)

  /** Layer II quantization class (Table B.4 row): `steps` levels,
    * `bits` codeword width (grouped: ONE codeword carries 3 samples;
    * ungrouped: `bits` per sample), and the requantization constants
    * in closed form - with e = ceil(log2(steps+1)) effective sample
    * bits, C = 2^e/steps and D = 1/2 for the grouped classes,
    * 2^(1-e) for the ungrouped (steps = 2^e - 1, where C/D reduce to
    * the Layer I 2.4.3.3 constants). These reproduce the printed B.4
    * column values exactly (3 -> 4/3, 5 -> 8/5, 7 -> 8/7, 9 -> 16/9,
    * 15 -> 16/15 ...).
    */
  private final case class L2Class(steps: Int, bits: Int, grouped: Boolean) {
    val e: Int = 32 - Integer.numberOfLeadingZeros(steps)
    val c: Double = (1 << e).toDouble / steps
    val d: Double = if (grouped) 0.5 else StrictMath.pow(2.0, 1 - e)
  }

  private val L2Classes: Array[L2Class] = Array(
    L2Class(3, 5, grouped = true), L2Class(5, 7, grouped = true),
    L2Class(7, 3, grouped = false), L2Class(9, 10, grouped = true),
    L2Class(15, 4, grouped = false), L2Class(31, 5, grouped = false),
    L2Class(63, 6, grouped = false), L2Class(127, 7, grouped = false),
    L2Class(255, 8, grouped = false), L2Class(511, 9, grouped = false),
    L2Class(1023, 10, grouped = false), L2Class(2047, 11, grouped = false),
    L2Class(4095, 12, grouped = false), L2Class(8191, 13, grouped = false),
    L2Class(16383, 14, grouped = false), L2Class(32767, 15, grouped = false),
    L2Class(65535, 16, grouped = false))

  /** Per-subband allowed-quantizer rows of Tables B.2a/b (high-rate)
    * and B.2c/d (low-rate), as indices into [[L2Classes]]; the
    * allocation code 1..len indexes the row, 0 = subband silent.
    * nbal is implied by the row length (15 -> 4 bits, 7 -> 3, 3 -> 2).
    */
  private val L2RowA0 = Array(0, 2, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val L2RowA1 = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 16)
  private val L2RowA2 = Array(0, 1, 2, 3, 4, 5, 16)
  private val L2RowA3 = Array(0, 1, 16)
  private val L2RowC0 = Array(0, 1, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
  private val L2RowC1 = Array(0, 1, 3, 4, 5, 6, 7)

  private def l2Nbal(row: Array[Int]): Int = row.length match {
    case 15 => 4
    case 7 => 3
    case _ => 2
  }

  private def l2AbRow(sb: Int): Array[Int] =
    if (sb < 3) L2RowA0 else if (sb < 11) L2RowA1
    else if (sb < 23) L2RowA2 else L2RowA3

  /** Table selection per B.2 (mono: bitrate == bitrate per channel):
    * <= 48 kbps -> B.2c (sblimit 8; B.2d/12 at 32 kHz); 56-80 ->
    * B.2a (27) at every rate; >= 96 -> B.2b (30) except 48 kHz,
    * which stays B.2a. Returns the per-subband quantizer row for
    * sb < sblimit.
    */
  private def l2Layout(srIdx: Int, kbps: Int): Array[Array[Int]] =
    if (kbps <= 48) {
      val sblimit = if (srIdx == 2) 12 else 8
      Array.tabulate(sblimit)(sb => if (sb < 2) L2RowC0 else L2RowC1)
    } else if (kbps <= 80) Array.tabulate(27)(l2AbRow)
    else Array.tabulate(if (srIdx == 1) 27 else 30)(l2AbRow)

  /** 2.4.3.4 requantization: the (grouped-digit or raw) code as an
    * offset-binary fraction, shifted by D and scaled by C.
    */
  private def l2Requant(code: Int, cls: L2Class): Double =
    cls.c * (code.toDouble / (1 << (cls.e - 1)) - 1.0 + cls.d)

  /** Per-granule codeword cost of a class: grouped codewords carry
    * the granule's 3 samples outright, ungrouped pay per sample.
    */
  private def l2GranCost(clsIdx: Int): Int = {
    val cq = L2Classes(clsIdx)
    if (cq.grouped) cq.bits else 3 * cq.bits
  }

  /** Mono PCM16 -> MPEG-1 Layer II bytes. Same contract as the Layer
    * I [[encode]] (gapless tag in the first frame's ancillary bits ->
    * decodes back to exactly `samples.length` samples), but on the
    * 1152-sample Layer II frame: allocation is the largest UNIFORM
    * per-granule bit budget whose worst case (scfsi 0 everywhere)
    * fits the unpadded frame with >= 96 slack bits for the tag; scfsi
    * per subband is chosen from scalefactor equality (2/1/3/0), so
    * naturally-static content exercises every transmission pattern.
    * The 44.1 kHz profile carries the 2.4.2.3 padding-slot
    * accumulator (144*kbps*1000 mod fs drift).
    */
  def encodeLayer2(samples: Array[Short], srIdx: Int = 2,
      brIdx: Int = 10): Array[Byte] = {
    require(srIdx >= 0 && srIdx <= 2, s"bad sample-rate index $srIdx")
    require(brIdx >= 1 && brIdx <= 14, s"bad bitrate index $brIdx")
    val kbps = BitratesL2(brIdx)
    require(kbps <= 192, s"mono Layer II allows at most 192 kbps, got $kbps")
    val fs = SampleRates(srIdx)
    val layout = l2Layout(srIdx, kbps)
    val sblimit = layout.length
    val num = 144 * kbps * 1000
    val baseBytes = num / fs
    val nbalSum = layout.map(l2Nbal).sum
    // fixed allocation: the first k subbands carry the largest
    // uniform per-granule budget t, the rest are silent (alloc 0 —
    // low-bitrate profiles cannot afford every subband; real
    // encoders drop high bands first). (k, t) maximizes bandwidth ×
    // precision among the combinations whose worst case (scfsi 0
    // everywhere) fits the unpadded frame with >= 96 tag-slack bits.
    def bestEntry(row: Array[Int], t: Int): Int = {
      var best = -1
      var bi = 0
      while (bi < row.length) {
        if (l2GranCost(row(bi)) <= t) best = bi
        bi += 1
      }
      best
    }
    def allocFor(k: Int, t: Int): Array[Int] =
      Array.tabulate(sblimit)(sb =>
        if (sb >= k) -1 else bestEntry(layout(sb), t))
    def totalBits(a: Array[Int]): Int =
      48 + nbalSum + a.indices.map { sb =>
        if (a(sb) < 0) 0 else 2 + 18 + 12 * l2GranCost(layout(sb)(a(sb)))
      }.sum
    var bestK = -1; var bestT = -1; var bestScore = -1L
    var k = 1
    while (k <= sblimit) {
      var t = 5
      while (t <= 48) {
        if (totalBits(allocFor(k, t)) <= baseBytes * 8 - 96 &&
            k.toLong * t > bestScore) {
          bestScore = k.toLong * t; bestK = k; bestT = t
        }
        t += 1
      }
      k += 1
    }
    require(bestK > 0,
      s"Layer II profile (sr=$fs, $kbps kbps) cannot fit an allocation")
    val allocIdx = allocFor(bestK, bestT)
    val n = samples.length
    val frames = math.max(1, (n + Delay + 1151) / 1152)
    val x = new Array[Double](frames * 1152)
    var i = 0
    while (i < n) { x(i) = samples(i) / 32768.0; i += 1 }
    val an = new Analysis
    val out = new java.io.ByteArrayOutputStream(frames * (baseBytes + 1))
    val s = Array.ofDim[Double](36, 32)
    var padAcc = 0
    var f = 0
    while (f < frames) {
      var tt = 0
      while (tt < 36) { an.step(x, f * 1152 + tt * 32, s(tt)); tt += 1 }
      padAcc += num % fs
      val padding = if (padAcc >= fs) { padAcc -= fs; 1 } else 0
      val frameBytes = baseBytes + padding
      // scalefactor per (subband, part): smallest covering value
      val sfIdx = Array.ofDim[Int](sblimit, 3)
      var sb = 0
      while (sb < sblimit) {
        var p = 0
        while (p < 3) {
          var mx = 0.0
          tt = p * 12
          while (tt < (p + 1) * 12) {
            val a = StrictMath.abs(s(tt)(sb)); if (a > mx) mx = a; tt += 1
          }
          var idx = 62
          while (idx > 0 && Scalefactors(idx) < mx) idx -= 1
          require(Scalefactors(idx) >= mx, "subband sample out of range")
          sfIdx(sb)(p) = idx
          p += 1
        }
        sb += 1
      }
      val w = new BitWriter(frameBytes)
      // header: sync, ID=1, layer II='10', protection=0 (CRC present)
      w.put(0xfff, 12); w.put(1, 1); w.put(2, 2); w.put(0, 1)
      w.put(brIdx.toLong, 4); w.put(srIdx.toLong, 2)
      w.put(padding.toLong, 1); w.put(0, 1)
      w.put(3, 2); w.put(0, 2) // mode: single_channel, mode_ext
      w.put(0, 1); w.put(1, 1); w.put(0, 2) // copyright, original, emphasis
      w.put(0, 16) // CRC placeholder (backfilled below)
      sb = 0
      while (sb < sblimit) {
        w.put((allocIdx(sb) + 1).toLong, l2Nbal(layout(sb)))
        sb += 1
      }
      val scfsi = new Array[Int](sblimit)
      sb = 0
      while (sb < sblimit) {
        if (allocIdx(sb) >= 0) {
          val a = sfIdx(sb)(0); val b = sfIdx(sb)(1); val c0 = sfIdx(sb)(2)
          scfsi(sb) =
            if (a == b && b == c0) 2 else if (a == b) 1
            else if (b == c0) 3 else 0
          w.put(scfsi(sb).toLong, 2)
        }
        sb += 1
      }
      // CRC covers header bits 16..31 + allocation + scfsi (2.4.3.1)
      val protBits = w.bitPos - 48
      val crc = crc16(w.buf, 48, protBits, init = crc16(w.buf, 16, 16))
      w.buf(4) = ((crc >> 8) & 0xff).toByte
      w.buf(5) = (crc & 0xff).toByte
      sb = 0
      while (sb < sblimit) {
        if (allocIdx(sb) < 0) { sb += 1 }
        else {
        scfsi(sb) match {
          case 0 =>
            w.put(sfIdx(sb)(0).toLong, 6); w.put(sfIdx(sb)(1).toLong, 6)
            w.put(sfIdx(sb)(2).toLong, 6)
          case 1 => w.put(sfIdx(sb)(0).toLong, 6); w.put(sfIdx(sb)(2).toLong, 6)
          case 2 => w.put(sfIdx(sb)(0).toLong, 6)
          case _ => w.put(sfIdx(sb)(0).toLong, 6); w.put(sfIdx(sb)(1).toLong, 6)
        }
        sb += 1
        }
      }
      var gr = 0
      while (gr < 12) {
        sb = 0
        while (sb < sblimit) {
          if (allocIdx(sb) < 0) { sb += 1 }
          else {
          val cls = L2Classes(layout(sb)(allocIdx(sb)))
          val sf = Scalefactors(sfIdx(sb)(gr / 4))
          def codeOf(v: Double): Int = {
            val sTriple = v / sf / cls.c - cls.d
            var code = StrictMath.round(
              (sTriple + 1.0) * (1 << (cls.e - 1))).toInt
            if (code < 0) code = 0
            if (code > cls.steps - 1) code = cls.steps - 1
            code
          }
          if (cls.grouped) {
            val cw =
              codeOf(s(gr * 3)(sb)) + cls.steps * codeOf(s(gr * 3 + 1)(sb)) +
                cls.steps * cls.steps * codeOf(s(gr * 3 + 2)(sb))
            w.put(cw.toLong, cls.bits)
          } else {
            var j = 0
            while (j < 3) {
              w.put(codeOf(s(gr * 3 + j)(sb)).toLong, cls.bits); j += 1
            }
          }
          sb += 1
          }
        }
        gr += 1
      }
      if (f == 0) { // gapless tag in the first frame's ancillary bits
        val tagStart = w.bitPos
        w.put(TagMagic, 32)
        w.put(Delay.toLong, 16)
        w.put(n.toLong, 32)
        w.put(crc16(w.buf, tagStart + 32, 48).toLong, 16)
      }
      out.write(w.buf, 0, frameBytes)
      f += 1
    }
    out.toByteArray
  }

  // --------------------------------------------------------- decoder

  /** Layer I / Layer II decode -> mono [[Multimodal.WavPcm]],
    * dispatched on the header's layer code (a stream must not mix
    * layers, just as it must not mix sample rates). None for
    * malformed, truncated, CRC-failing, Layer III, or decode-bomb
    * payloads.
    */
  def decode(payload: Array[Byte], maxOutSamples: Int = 1 << 26)
      : Option[Multimodal.WavPcm] =
    if (payload == null || payload.length < 6 ||
      (payload(0) & 0xff) != 0xff || (payload(1) & 0xe0) != 0xe0) None
    else
      try Some(decodeChecked(payload, maxOutSamples))
      catch {
        case _: Malformed | _: ArrayIndexOutOfBoundsException |
             _: NegativeArraySizeException => None
      }

  private def decodeChecked(data: Array[Byte], maxOutSamples: Int)
      : Multimodal.WavPcm = {
    val sy = new Synthesis(WinD)
    val pcm = new java.util.ArrayList[Array[Double]]()
    var outLen = 0
    var sampleRate = 0
    var layerLatched = 0
    var tagDelay = -1; var tagLen = -1
    var firstFrame = true
    var pos = 0
    while (pos + 4 <= data.length) {
      val br = new BitReader(data)
      br.bitPos = pos * 8
      if (br.bits(12) != 0xfff) fail()
      if (br.bits(1) != 1) fail() // MPEG-1 only (no LSF)
      val layer = br.bits(2) // '11' = Layer I, '10' = Layer II
      if (layer != 3 && layer != 2) fail() // Layer III ('01') unsupported
      val protection = br.bits(1)
      val brIdx = br.bits(4)
      val srIdx = br.bits(2)
      val padding = br.bits(1)
      br.bits(1) // private
      val mode = br.bits(2)
      br.bits(2); br.bits(1); br.bits(1); br.bits(2) // ext/copy/orig/emph
      if (brIdx == 0 || brIdx > 14 || srIdx > 2) fail()
      if (mode != 3) fail() // single_channel only (scope: mono corpus)
      // latch sample rate AND layer from the first frame: the clip
      // has one time base and one frame grammar — a stream whose
      // later frames flip either is inconsistent, not concatenable
      // (bitrate MAY vary per frame: legal VBR)
      if (firstFrame) { sampleRate = SampleRates(srIdx); layerLatched = layer }
      else if (sampleRate != SampleRates(srIdx) || layer != layerLatched) fail()
      val stored = if (protection == 0) br.bits(16) else 0
      val frameBytes =
        if (layer == 3) (12 * BitratesL1(brIdx) * 1000 / sampleRate + padding) * 4
        else {
          val kbps = BitratesL2(brIdx)
          if (kbps > 192) fail() // mono: 224+ combos are stereo-only
          144 * kbps * 1000 / sampleRate + padding
        }
      if (frameBytes <= 4 || pos + frameBytes > data.length) fail()
      val frameOut =
        if (layer == 3) {
          // ------------------------------------------ Layer I frame
          if (protection == 0) {
            // CRC covers header tail + the 128-bit allocation block
            if (stored != crc16(data, pos * 8 + 48, 128,
              init = crc16(data, pos * 8 + 16, 16))) fail()
          }
          val alloc = new Array[Int](32)
          var sb = 0
          while (sb < 32) {
            val code = br.bits(4)
            if (code == 15) fail()
            alloc(sb) = if (code == 0) 0 else code + 1
            sb += 1
          }
          val sf = new Array[Double](32)
          sb = 0
          while (sb < 32) {
            if (alloc(sb) > 0) {
              val idx = br.bits(6)
              if (idx > 62) fail()
              sf(sb) = Scalefactors(idx)
            }
            sb += 1
          }
          val outF = new Array[Double](384)
          val s = new Array[Double](32)
          var t = 0
          while (t < 12) {
            sb = 0
            while (sb < 32) {
              if (alloc(sb) == 0) s(sb) = 0.0
              else {
                val nb = alloc(sb)
                val code = br.bits(nb)
                val sTriple = code.toDouble / (1 << (nb - 1)) - 1.0
                val sPrime = (1 << nb).toDouble / ((1 << nb) - 1) *
                  (sTriple + StrictMath.pow(2.0, 1 - nb))
                s(sb) = sPrime * sf(sb)
              }
              sb += 1
            }
            sy.step(s, outF, t * 32)
            t += 1
          }
          outF
        } else {
          // ----------------------------------------- Layer II frame
          val layout = l2Layout(srIdx, BitratesL2(brIdx))
          val sblimit = layout.length
          val alloc = new Array[Int](sblimit) // -1 = silent, else row idx
          var sb = 0
          while (sb < sblimit) {
            val code = br.bits(l2Nbal(layout(sb)))
            if (code > layout(sb).length) fail()
            alloc(sb) = code - 1
            sb += 1
          }
          val scfsi = new Array[Int](sblimit)
          sb = 0
          while (sb < sblimit) {
            if (alloc(sb) >= 0) scfsi(sb) = br.bits(2)
            sb += 1
          }
          if (protection == 0) {
            // CRC covers header tail + allocation + scfsi (§2.4.3.1)
            val protBits = br.bitPos - (pos * 8 + 48)
            if (stored != crc16(data, pos * 8 + 48, protBits,
              init = crc16(data, pos * 8 + 16, 16))) fail()
          }
          val sf = Array.ofDim[Double](sblimit, 3)
          sb = 0
          while (sb < sblimit) {
            if (alloc(sb) >= 0) {
              def rd(): Double = {
                val i = br.bits(6); if (i > 62) fail(); Scalefactors(i)
              }
              scfsi(sb) match {
                case 0 => sf(sb)(0) = rd(); sf(sb)(1) = rd(); sf(sb)(2) = rd()
                case 1 =>
                  val a = rd(); val b = rd()
                  sf(sb)(0) = a; sf(sb)(1) = a; sf(sb)(2) = b
                case 2 =>
                  val a = rd(); sf(sb)(0) = a; sf(sb)(1) = a; sf(sb)(2) = a
                case _ =>
                  val a = rd(); val b = rd()
                  sf(sb)(0) = a; sf(sb)(1) = b; sf(sb)(2) = b
              }
            }
            sb += 1
          }
          val outF = new Array[Double](1152)
          val sTri = Array.ofDim[Double](3, 32)
          var gr = 0
          while (gr < 12) {
            var j = 0
            while (j < 3) {
              java.util.Arrays.fill(sTri(j), 0.0); j += 1
            }
            sb = 0
            while (sb < sblimit) {
              if (alloc(sb) >= 0) {
                val cls = L2Classes(layout(sb)(alloc(sb)))
                val scale = sf(sb)(gr / 4)
                if (cls.grouped) {
                  var cw = br.bits(cls.bits)
                  if (cw >= cls.steps * cls.steps * cls.steps) fail()
                  j = 0
                  while (j < 3) {
                    sTri(j)(sb) = l2Requant(cw % cls.steps, cls) * scale
                    cw /= cls.steps
                    j += 1
                  }
                } else {
                  j = 0
                  while (j < 3) {
                    val code = br.bits(cls.bits)
                    // steps = 2^bits − 1 (Table B.4): the all-ones
                    // codeword is invalid, same check as the grouped
                    // path's cw >= steps^3 — reject, don't reconstruct
                    // an out-of-range sample
                    if (code >= cls.steps) fail()
                    sTri(j)(sb) = l2Requant(code, cls) * scale
                    j += 1
                  }
                }
              }
              sb += 1
            }
            j = 0
            while (j < 3) { sy.step(sTri(j), outF, (gr * 3 + j) * 32); j += 1 }
            gr += 1
          }
          outF
        }
      // a frame's allocation/scalefactor/sample bits must fit INSIDE
      // its declared slot length — otherwise the reader has silently
      // consumed the next frame's bytes as sample data (structurally
      // invalid per the spec) and would return Some(garbage)
      if (br.bitPos > (pos + frameBytes) * 8) fail()
      if (firstFrame && br.bitPos + 96 <= (pos + frameBytes) * 8) {
        // gapless tag, if present in the ancillary bits (CRC-verified:
        // a corrupted tag falls back to raw output, never a wrong trim)
        val save = br.bitPos
        val magic = br.bits(32).toLong & 0xffffffffL
        if (magic == TagMagic) {
          val payloadAt = br.bitPos
          val d = br.bits(16)
          val len = br.bits(32)
          val stored2 = br.bits(16)
          if (stored2 == crc16(data, payloadAt, 48)) {
            tagDelay = d; tagLen = len
          } else br.bitPos = save
        } else br.bitPos = save
      }
      firstFrame = false
      pcm.add(frameOut)
      outLen += frameOut.length
      if (outLen > maxOutSamples) fail()
      pos += frameBytes
    }
    if (pcm.isEmpty) fail()
    val raw = new Array[Double](outLen)
    var off = 0
    var fi = 0
    while (fi < pcm.size()) {
      val fr = pcm.get(fi)
      System.arraycopy(fr, 0, raw, off, fr.length); off += fr.length; fi += 1
    }
    val (from, len) =
      if (tagLen >= 0) {
        if (tagDelay < 0 || tagLen > raw.length - tagDelay) fail()
        (tagDelay, tagLen)
      } else (0, raw.length)
    val out = new Array[Short](len)
    var i = 0
    while (i < len) {
      val v = StrictMath.round(raw(from + i) * 32768.0)
      out(i) =
        (if (v > 32767) 32767 else if (v < -32768) -32768 else v).toShort
      i += 1
    }
    Multimodal.WavPcm(sampleRate, 1, 16, out)
  }
}
