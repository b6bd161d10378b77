package graft.fixtures

import graft.operators.Multimodal.{containerFrames, cropResizeRgb, encodePng}

/** Synthetic media: the deterministic generators every media fixture is
  * built from (PNG, JPEG, GIF, WAV, AVI, MP4, fMP4, Matroska), and the
  * edits that derive a probe from its master (crop + resize, rotation,
  * dihedral turns, JPEG re-encode, aspect squeeze). Every payload is a
  * pure function of its arguments, so a gate's fixture is a function of
  * `doc_id` alone. The decoders the operators run stay in
  * [[graft.operators.Multimodal]]. */
object Media {

  /** Deterministic RGB test image for doc `id`: channel values are pure
    * integer functions of (id, x, y), PNG-encoded (lossless, so every
    * decoder recovers the exact pixels). Feeds the m75 pinned-golden
    * decode gate and the resize spec — no image fixtures on disk. */
  def syntheticPng(id: Long, w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 7 + x * 13 + y * 31) % 256).toInt
        val g = ((id * 11 + x * 3 + y * 17) % 256).toInt
        val b = ((id * 5 + x * 29 + y * 7) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  /** Id-seeded STRUCTURELESS texture — every pixel an independent
    * avalanche-hashed gray value (no blobs, no lattice: unlike
    * [[syntheticPng]]'s linear-congruential pattern, whose local
    * maxima sit on an id-independent lattice, two ids here share no
    * geometry). The m161 fixture: the class where any coarse-peak
    * detector finds only noise maxima that resampling rewrites
    * wholesale, so the constellation tier cannot own it and the
    * pHash tier owns exactly the unresized re-encodes. */
  def syntheticPngTexture(id: Long, w: Int = 64, h: Int = 64): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var hv = (id * -7046029254386353131L) ^
          ((y.toLong * w + x) * -4417276706812531889L)
        hv ^= hv >>> 30; hv *= -4658895280553007687L
        hv ^= hv >>> 27; hv *= -7723592293110705685L
        hv ^= hv >>> 31
        val g = (hv & 0xffL).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  /** PCM16 WAV container around the given samples (each in
    * [-32768, 32767]); `channels > 1` declares the samples as
    * channel-interleaved frames. */
  def wavPcm16(samples: Array[Int], sampleRate: Int = 8000,
      channels: Int = 1): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    def putAscii(o: Int, s: String): Unit = { var i = 0; while (i < s.length) { out(o + i) = s.charAt(i).toByte; i += 1 } }
    def put16(o: Int, v: Int): Unit = { out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte }
    def put32(o: Int, v: Int): Unit = { put16(o, v & 0xffff); put16(o + 2, (v >>> 16) & 0xffff) }
    putAscii(0, "RIFF"); put32(4, 36 + dataSize); putAscii(8, "WAVE")
    putAscii(12, "fmt "); put32(16, 16); put16(20, 1); put16(22, channels)
    put32(24, sampleRate); put32(28, sampleRate * 2 * channels)
    put16(32, 2 * channels); put16(34, 16)
    putAscii(36, "data"); put32(40, dataSize)
    var n = 0
    while (n < samples.length) {
      put16(44 + 2 * n, samples(n) & 0xffff)
      n += 1
    }
    out
  }

  /** Deterministic PCM16 mono WAV for doc `id`: sample n is the pure
    * integer function ((id*31 + n*197) mod 65536) - 32768 — so a SQL
    * oracle can regenerate the exact sample stream and verify the
    * encode→parse round-trip arithmetically (unlike the image ops,
    * whose codec path needs pinned goldens). */
  def syntheticWav(id: Long, nSamples: Int, sampleRate: Int = 8000): Array[Byte] =
    wavPcm16(Array.tabulate(nSamples)(n =>
      (((id * 31 + n.toLong * 197) % 65536L) - 32768L).toInt))

  /** Deterministic TEXTURED WAV for the m79 fingerprint gate: sample n
    * is ((m·(n+7)·(n+13)) mod 65536) - 32768 with m = id·40503 + 12289
    * — the multiplier is large for EVERY id, so the product wraps mod
    * 65536 from the first samples and each doc carries genuinely
    * different pseudo-random texture (a small multiplier would leave a
    * smooth non-wrapping parabola whose autocorrelation signs collide
    * across docs, and the syntheticWav ramp is phase-shifted per id —
    * same fingerprint everywhere). `num`/`den` floor-scale the
    * amplitude (floorDiv == the oracle's floor()), the planted "same
    * recording, different level" edit. */
  def syntheticWavTex(id: Long, nSamples: Int,
      num: Int = 1, den: Int = 1): Array[Byte] =
    wavPcm16(Array.tabulate(nSamples) { n =>
      val s = (((id * 40503L + 12289L) * (n + 7L) * (n + 13L)) % 65536L
        - 32768L).toInt
      if (num == den) s else Math.floorDiv(s * num, den)
    })

  /** [[syntheticWavTex]] with the first `skip` samples TRIMMED: sample
    * n of the trim is sample n+skip of the base stream. With skip a
    * multiple of the fingerprint hop (64), every surviving frame of
    * the trim is bit-identical to a frame of the base shifted by
    * skip/hop positions — the planted "same recording, leading audio
    * cut" re-upload that positional alignment misses and
    * [[graft.operators.Multimodal.AudioLandmark]] catches. */
  def syntheticWavTexTrim(id: Long, nSamples: Int, skip: Int): Array[Byte] =
    wavPcm16(Array.tabulate(nSamples) { n =>
      (((id * 40503L + 12289L) * (n + skip + 7L) * (n + skip + 13L)) % 65536L
        - 32768L).toInt
    })

  /** [[syntheticWavTex]] muxed at `factor` x 8 kHz by zero-order hold:
    * sample n of the hi-rate stream is base sample n/factor, so
    * integer decimation recovers the 8 kHz master bit-exactly — the
    * planted "same recording, resampled container" re-upload the
    * rate-blind fingerprint misses and canonicalization catches. */
  def syntheticWavTexRate(id: Long, nSamples: Int, factor: Int): Array[Byte] =
    wavPcm16(Array.tabulate(nSamples * factor) { n =>
      val i = n / factor
      (((id * 40503L + 12289L) * (i + 7L) * (i + 13L)) % 65536L
        - 32768L).toInt
    }, sampleRate = 8000 * factor)

  /** Deterministic TONE-MIXTURE WAV sampled at an arbitrary `rate` —
    * the fractional-resample fixture for the spectral tier (m106): the
    * CONTINUOUS-TIME signal is a sum of 17 sines at exactly the
    * [[graft.operators.Multimodal.spectralFrameCodes]] analysis frequencies, with amplitudes that
    * step every 128 ms through an (id, segment)-keyed PERMUTATION of
    * 17 distinct levels — adjacent analysis bands always differ by at
    * least one level, so every spectral sign bit is decided by a
    * >= 13% energy margin, far above cross-rate sampling error. Two
    * muxes of the same id at different rates are the ideal-resampler
    * pair: same signal, different sample grid — no sample value in
    * common (the integer tier provably misses them), identical
    * spectral codes. */
  def syntheticWavTones(id: Long, rate: Int, ms: Int = 512,
      offsetMs: Int = 0, gateMs: Int = 0, segMs: Int = 128,
      permMs: Int = 0, gainNum: Int = 1, gainDen: Int = 1,
      floorNum: Int = 0, floorDen: Int = 1): Array[Byte] = {
    val bands = 17
    val T = 0.064
    val centers = Array.tabulate(bands)(b =>
      math.max(1L, math.round(300.0 * StrictMath.pow(10.0, b / 16.0) * T))
        .toDouble / T)
    val n = rate * ms / 1000
    wavPcm16(Array.tabulate(n) { i =>
      // offsetMs trims the CONTINUOUS signal: the re-upload starts
      // offsetMs into the master's timeline (frame-aligned trims keep
      // interior spectral codes identical — the m110 fixture).
      // gateMs > 0 SILENCES the first gateMs of every segMs-long
      // segment — the beat-gated variant whose silence->burst edges
      // are the energy onsets the onset-anchored tier (m115) anchors
      // on; the gate is a property of the CONTINUOUS signal, so it
      // trims and resamples with it. segMs (default 128, the original
      // grid) sets the amplitude-permutation period: segMs=96 with
      // gateMs=32 makes each burst exactly ONE 64 ms analysis frame
      // long, so only onset-aligned frames ever sit fully inside a
      // burst — the construction that makes grid-anchored tiers
      // provably blind to a non-hop-multiple trim.
      // floorNum/floorDen > 0 add a CONTINUOUS 60 Hz hum at
      // floorNum/floorDen of the 20000 full scale — the NOISY-FLOOR
      // variant (m119): the gate is no longer silent, so
      // threshold-crossing onset detectors (absolute AND peak-frac)
      // find no sub-threshold run to anchor on, while the hum, being
      // part of the continuous signal, trims/resamples/re-levels with
      // everything else.
      // permMs > 0 decouples the amplitude-PERMUTATION period from the
      // gate period: levels re-permute every permMs (e.g. 32 ms), so a
      // 64 ms analysis frame mixes 2-3 distinct level sets weighted by
      // its exact alignment — without it, silence contributes zero
      // energy and any frame overlapping a single stationary burst
      // yields that burst's "pure" ordering code WHATEVER the
      // alignment, which quietly hands grid-anchored tiers
      // trim-invariance they don't really have.
      val segS = segMs / 1000.0
      val t = i.toDouble / rate + offsetMs / 1000.0
      val seg0 = (t / segS).toInt
      val hum =
        if (floorNum <= 0) 0.0
        else floorNum.toDouble / floorDen * 20000.0 *
          StrictMath.sin(2.0 * StrictMath.PI * 60.0 * t)
      if (gateMs > 0 && t - seg0 * segS < gateMs / 1000.0)
        math.max(-32768L, math.min(32767L,
          math.round(hum * gainNum / gainDen))).toInt
      else {
      val seg = if (permMs > 0) (t / (permMs / 1000.0)).toInt else seg0
      // a*b+c mod 17 with a coprime to 17: adjacent b always differ.
      // (a, c) come from an AVALANCHED (id, seg) hash (splitmix64
      // finalizer): a linear mix leaves h_i - h_j constant across
      // segments, which correlates per-segment collisions between two
      // docs and makes the corpus-wide spurious-match rate quadratic
      // - the ScaleCheck sweep caught exactly that (as it earlier
      // caught the plain id*k formula collapsing everything to
      // id mod 272)
      var h = id * -7046029254386353131L +
        (seg + 1).toLong * -4417276706812531889L
      h ^= h >>> 30; h *= -4658895280553007687L
      h ^= h >>> 27; h *= -7723592293110705685L
      h ^= h >>> 31
      val a = 1 + (((h >>> 8) & 0x7fffffffL) % 16L).toInt
      val c = (((h >>> 40) & 0x7fffffffL) % 17L).toInt
      var acc = 0.0
      var b = 0
      while (b < bands) {
        val lvl = ((a * b + c) % 17) + 1
        acc += lvl / 17.0 *
          StrictMath.sin(2.0 * StrictMath.PI * centers(b) * t)
        b += 1
      }
      // gainNum/gainDen scale the CONTINUOUS signal's amplitude (the
      // re-leveled re-upload class): both muxes of a scaled id sample
      // the same scaled waveform, so spectral codes — energy-ORDERING
      // bits — are unchanged while every absolute amplitude is not
      math.max(-32768L, math.min(32767L,
        math.round((acc / bands * 20000.0 + hum) * gainNum / gainDen))).toInt
      }
    }, sampleRate = rate)
  }

  /** Beat-gated tone mixture with VARIABLE-length segments — the
    * SPEED-CHANGE fixture. [[syntheticWavTones]] uses a fixed segMs,
    * so every onset interval is equal and interval RATIOS carry no
    * information; here segment k's duration comes from a doc-keyed
    * avalanched hash over the near-geometric ladder {64, 78, 95, 116,
    * 142} ms (adjacent log-ratios ~0.198, so under the interval tier's
    * default qStep = 0.2 every ratio quantizes mid-cell, ~0.43 cells
    * from any boundary — detection jitter of a full sample period
    * moves a 64 ms ratio by < 0.03 cells). Each segment opens with a
    * 32 ms silent gate, then a 17-band tone burst keyed like the tones
    * generator (levels re-permute every 32 ms of master time). The
    * signal is a pure function of MASTER time
    * `tau = t * speedNum/speedDen + offsetMs/1000`:
    * `speedNum/speedDen` is a PLAYBACK-SPEED factor — tempo and pitch
    * scale TOGETHER, the classic content-ID-evading speed-up — and
    * offsetMs trims, rate muxes, gainNum/gainDen re-level, so one
    * master rendered at (8 kHz, speed 1) and a re-upload at
    * (44.1 kHz, speed 21/20, trim 50 ms) sample the same continuous
    * waveform under exactly the similarity the interval tier must
    * recover. */
  def syntheticWavBeats(id: Long, rate: Int, ms: Int = 1248,
      offsetMs: Int = 0, speedNum: Int = 1, speedDen: Int = 1,
      gainNum: Int = 1, gainDen: Int = 1,
      uniformSegMs: Int = 0, pitchNum: Int = 1,
      pitchDen: Int = 1): Array[Byte] = {
    // pitchNum/pitchDen scales every band FREQUENCY (tone content)
    // WITHOUT touching the envelope times — the pure PITCH-SHIFT
    // re-render (autotune / key-change), as opposed to
    // speedNum/speedDen which scales tempo and pitch together.
    // Defaults reproduce the old signal bit-exactly.
    require(pitchNum >= 1 && pitchDen >= 1, "pitch must be positive")
    // uniformSegMs > 0 makes every segment that long — the METRONOMIC
    // variant (m124): all inter-onset intervals equal, so the
    // interval-ratio tier carries zero timing entropy (every doc
    // hashes to the one all-ratios-1 landmark) and discrimination
    // must come from pitch-class-invariant spectral content
    require(speedNum >= 1 && speedDen >= 1, "speed must be positive")
    val bands = 17
    val T = 0.064
    val centers = Array.tabulate(bands)(b =>
      math.max(1L, math.round(300.0 * StrictMath.pow(10.0, b / 16.0) * T))
        .toDouble / T)
    // segment-duration ladder (ms); see scaladoc for the geometry
    val ladder = Array(64, 78, 95, 116, 142)
    def avalanche(id: Long, k: Long, salt: Long): Long = {
      var h = (id ^ salt) * -7046029254386353131L +
        (k + 1L) * -4417276706812531889L
      h ^= h >>> 30; h *= -4658895280553007687L
      h ^= h >>> 27; h *= -7723592293110705685L
      h ^ (h >>> 31)
    }
    def segDur(k: Int): Double =
      if (uniformSegMs > 0) uniformSegMs / 1000.0
      else {
        val h = avalanche(id, k.toLong, 0x5b3e9a17c4d20f86L)
        ladder((((h >>> 24) & 0x7fffffffL) % ladder.length).toInt) / 1000.0
      }
    val maxTau = offsetMs / 1000.0 +
      ms / 1000.0 * speedNum.toDouble / speedDen + 0.2
    val bounds = scala.collection.mutable.ArrayBuffer(0.0)
    while (bounds.last <= maxTau)
      bounds += bounds.last + segDur(bounds.length - 1)
    val starts = bounds.toArray
    val n = rate * ms / 1000
    wavPcm16(Array.tabulate(n) { i =>
      val tau = i.toDouble / rate * speedNum / speedDen + offsetMs / 1000.0
      // largest segment start <= tau (starts(0)=0, last > maxTau >= tau)
      var lo = 0
      var hi = starts.length - 1
      while (lo < hi - 1) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= tau) lo = mid else hi = mid
      }
      if (tau - starts(lo) < 0.032) 0
      else {
        // level permutation re-keys every 32 ms of master time — the
        // permMs=32 behavior of the tones generator (see its scaladoc
        // for why stationary bursts would hand grid tiers unearned
        // trim-invariance)
        val h = avalanche(id, (tau / 0.032).toLong, 0L)
        val a = 1 + (((h >>> 8) & 0x7fffffffL) % 16L).toInt
        val c = (((h >>> 40) & 0x7fffffffL) % 17L).toInt
        var acc = 0.0
        var b = 0
        while (b < bands) {
          val lvl = ((a * b + c) % 17) + 1
          acc += lvl / 17.0 * StrictMath.sin(2.0 * StrictMath.PI *
            (centers(b) * pitchNum / pitchDen) * tau)
          b += 1
        }
        math.max(-32768L, math.min(32767L,
          math.round(acc / bands * 20000.0 * gainNum / gainDen))).toInt
      }
    }, sampleRate = rate)
  }

  /** [[syntheticWavTex]] muxed STEREO with L == R — the dual-mono
    * re-upload every channel-layout converter emits: interleaved
    * samples differ from the mono master byte-for-byte, but the
    * per-frame channel mean recovers it exactly. */
  def syntheticWavTexStereo(id: Long, nSamples: Int): Array[Byte] = {
    val out = new Array[Int](nSamples * 2)
    var n = 0
    while (n < nSamples) {
      val s = (((id * 40503L + 12289L) * (n + 7L) * (n + 13L)) % 65536L
        - 32768L).toInt
      out(2 * n) = s; out(2 * n + 1) = s
      n += 1
    }
    wavPcm16(out, channels = 2)
  }

  /** A CROP of [[syntheticPng]]'s pixel field — the m128 fixture:
    * renders pixels (x0..x1) x (y0..y1) of master `id`'s (w, h)
    * field, so the payload contains EXACTLY the pixels of that
    * window (PNG is lossless) and its whole-image pHash equals the
    * master's window hash bit-for-bit when the rect matches a
    * [[graft.operators.Multimodal.CropWindows]] entry. */
  def syntheticPngCrop(id: Long, x0: Int, y0: Int, x1: Int, y1: Int,
      w: Int = 64, h: Int = 64): Array[Byte] = {
    require(x0 >= 0 && y0 >= 0 && x1 <= w && y1 <= h && x0 < x1 && y0 < y1,
      "crop rect must be inside the master")
    val img = new java.awt.image.BufferedImage(x1 - x0, y1 - y0,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = y0
    while (y < y1) {
      var x = x0
      while (x < x1) {
        val r = ((id * 7 + x * 13 + y * 31) % 256).toInt
        val g = ((id * 11 + x * 3 + y * 17) % 256).toInt
        val b = ((id * 5 + x * 29 + y * 7) % 256).toInt
        img.setRGB(x - x0, y - y0, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  /** Quarter-turn-rotated re-encode of [[syntheticPng]] — the
    * phone-orientation repost fixture: PNG is lossless and the image
    * square, so the rotated image's as-is pHash equals the original's
    * correspondingly-rotated hash exactly. */
  /** Dihedral-8 lossless re-encode of ANY PNG payload — the compound
    * fixture helper (rotate/mirror a [[syntheticPngCrop]] for the
    * rotated-arbitrary-crop class): horizontal mirror first when
    * `orient >= 4`, then `orient % 4` clockwise quarter turns (the
    * [[syntheticPngRotFlip]] convention). */
  def pngDihedral(payload: Array[Byte], orient: Int): Array[Byte] =
    encodePng(dihedralRgb(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)), orient))

  /** The dihedral-8 pixel permutation itself (mirror-then-quarter-
    * turns, the [[syntheticPngRotFlip]] convention) on a decoded
    * image — the shared kernel of [[pngDihedral]] and
    * [[aviDihedralDib]], so the AVI fixture transform permutes frames
    * directly instead of round-tripping each through PNG
    * encode/decode. */
  private def dihedralRgb(img: java.awt.image.BufferedImage,
      orient: Int): java.awt.image.BufferedImage = {
    val w = img.getWidth
    val h = img.getHeight
    val q = orient % 4
    val out = new java.awt.image.BufferedImage(
      if (q % 2 == 1) h else w, if (q % 2 == 1) w else h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val sx = if (orient >= 4) w - 1 - x else x
      val (nx, ny) = q match {
        case 1 => (h - 1 - y, x)
        case 2 => (w - 1 - x, h - 1 - y)
        case 3 => (y, w - 1 - x)
        case _ => (x, y)
      }
      out.setRGB(nx, ny, img.getRGB(sx, y))
    }
    out
  }

  def syntheticPngRot(id: Long, quarterTurns: Int,
      w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(syntheticPng(id, w, h)))
    val out = new java.awt.image.BufferedImage(
      if (quarterTurns % 2 == 1) h else w,
      if (quarterTurns % 2 == 1) w else h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (nx, ny) = quarterTurns % 4 match {
        case 1 => (h - 1 - y, x)       // clockwise quarter turn
        case 2 => (w - 1 - x, h - 1 - y)
        case 3 => (y, w - 1 - x)
        case _ => (x, y)
      }
      out.setRGB(nx, ny, img.getRGB(x, y))
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** COMPOUND dihedral re-encode of [[syntheticPng]]: horizontal
    * mirror THEN `quarterTurns` clockwise quarter turns — the repost
    * class neither [[syntheticPngRot]]'s rotation set nor
    * [[syntheticPngFlip]]'s mirror catches alone (quarterTurns=1/3 are
    * the transpose-type elements, 2 is the vertical flip). Lossless,
    * square: its as-is pHash equals the original's corresponding
    * mirrored-then-rotated grid hash exactly. */
  def syntheticPngRotFlip(id: Long, quarterTurns: Int,
      w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(syntheticPngFlip(id, w, h)))
    val out = new java.awt.image.BufferedImage(
      if (quarterTurns % 2 == 1) h else w,
      if (quarterTurns % 2 == 1) w else h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (nx, ny) = quarterTurns % 4 match {
        case 1 => (h - 1 - y, x)
        case 2 => (w - 1 - x, h - 1 - y)
        case 3 => (y, w - 1 - x)
        case _ => (x, y)
      }
      out.setRGB(nx, ny, img.getRGB(x, y))
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** EXIF-TAGGED camera repost of [[syntheticPng]]: the pattern's
    * pixels are STORED in camera orientation `orient` (EXIF 1-8 —
    * e.g. 6 stores the image rotated 90 deg counter-clockwise and the
    * tag says "rotate 90 CW to view"), JPEG-encoded via javax.imageio,
    * with a minimal APP1 Exif segment (little-endian TIFF, IFD0, tag
    * 0x0112) spliced after SOI. The dominant phone-camera repost
    * class: byte-distinct, pixel-rotated, but self-describing — EXIF
    * normalization at decode ([[graft.operators.Multimodal.grid32]]) makes its PLAIN pHash land
    * on the master with no dihedral probes (m116). Square only (the
    * exactness argument of [[syntheticPngRot]]). */
  def syntheticJpegExif(id: Long, orient: Int,
      w: Int = 16, h: Int = 16): Array[Byte] = {
    require(orient >= 1 && orient <= 8, "EXIF orientation is 1..8")
    require(w == h, "EXIF fixture is square-only (grid exactness)")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(syntheticPng(id, w, h)))
    val n = w
    val stored = new java.awt.image.BufferedImage(n, n,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // stored(map(y,x)) = master(y,x), where map is the DISPLAY
    // transform's source lookup — so applying the display transform to
    // `stored` recovers the master exactly
    for (y <- 0 until n; x <- 0 until n) {
      val (sy, sx) = orient match {
        case 2 => (y, n - 1 - x)
        case 3 => (n - 1 - y, n - 1 - x)
        case 4 => (n - 1 - y, x)
        case 5 => (x, y)
        case 6 => (n - 1 - x, y)
        case 7 => (n - 1 - x, n - 1 - y)
        case 8 => (x, n - 1 - y)
        case _ => (y, x)
      }
      stored.setRGB(sx, sy, img.getRGB(x, y))
    }
    // high-quality encode (0.95): the fixture pins pHash DISTANCES, and
    // default-quality JPEG noise alone costs 2-4 bits on 16x16 patterns
    // — the EXIF normalization itself is grid-exact, so the remaining
    // distance should be (small) codec noise, not quantization mush
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.95f)
    writer.write(null, new javax.imageio.IIOImage(stored, null, null), p)
    writer.dispose(); ios.close()
    val jpg = bos.toByteArray
    // APP1 Exif: len 34 = 2(len) + 6(Exif\0\0) + 26(TIFF: hdr 8 +
    // count 2 + one 12-byte IFD entry + next-IFD 4)
    val app1 = Array[Byte](
      0xff.toByte, 0xe1.toByte, 0x00, 0x22,
      'E'.toByte, 'x'.toByte, 'i'.toByte, 'f'.toByte, 0, 0,
      'I'.toByte, 'I'.toByte, 42, 0, 8, 0, 0, 0, // LE TIFF, IFD0 at +8
      1, 0, // one entry
      0x12, 0x01, 3, 0, 1, 0, 0, 0, orient.toByte, 0, 0, 0,
      0, 0, 0, 0)
    jpg.take(2) ++ app1 ++ jpg.drop(2)
  }

  /** Horizontally mirrored re-encode of [[syntheticPng]] — the
    * flipped-repost fixture: PNG is lossless, so the flipped image's
    * pixels are exactly the mirror and (at the 16x16 fixture size,
    * where the 32-cell box grid mirrors cell-exactly) its as-is pHash
    * equals the original's mirrored-grid hash. */
  def syntheticPngFlip(id: Long, w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(syntheticPng(id, w, h)))
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      out.setRGB(w - 1 - x, y, img.getRGB(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Lossy JPEG re-encode of any image payload at the given quality —
    * the m141 fixture helper (javax.imageio writer, explicit
    * compression quality). */
  def jpegReencode(payload: Array[Byte], quality: Float): Array[Byte] =
    jpegEncode(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)), quality)

  /** The JPEG writer core behind [[jpegReencode]] and
    * [[syntheticJpegTextured]] — explicit compression quality on a
    * decoded image, no intermediate container round-trip. */
  private def jpegEncode(img: java.awt.image.BufferedImage,
      quality: Float): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    w.dispose()
    bos.toByteArray
  }

  /** Rotate-about-center (+ uniform scale) re-encode of any PNG
    * payload — the rotation tier's fixture transform: every output
    * pixel inverse-maps through rotation by `degrees` and scale
    * `factor` around the canvas center, bilinear-sampled with the
    * [[graft.operators.Multimodal.cropResizeRgb]] determinism contract (pure doubles + final
    * round, StrictMath trig); source coordinates outside the canvas
    * render the blob fixtures' dark floor (8), so no new structure
    * enters at the corners. */
  def pngRotateResize(payload: Array[Byte], degrees: Double,
      factor: Double = 1.0): Array[Byte] =
    encodePng(rotateResizeRgb(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)), degrees, factor))

  /** The rotation kernel behind [[pngRotateResize]], at the image
    * level (shared with the affine-canonical tier): rotate about
    * center `degrees` clockwise + uniform `factor`, inverse-map
    * bilinear, same-size canvas scaled by `factor`, out-of-source
    * pixels filled near-black. Pure doubles + final round —
    * deterministic across JVMs. */
  private def rotateResizeRgb(img: java.awt.image.BufferedImage,
      degrees: Double, factor: Double = 1.0): java.awt.image.BufferedImage = {
    require(factor > 0.0, "scale factor must be > 0")
    val w = img.getWidth
    val h = img.getHeight
    val outW = math.max(1, math.round(w * factor).toInt)
    val outH = math.max(1, math.round(h * factor).toInt)
    val rad = degrees * math.Pi / 180.0
    val cosA = StrictMath.cos(rad)
    val sinA = StrictMath.sin(rad)
    val cxS = (w - 1) / 2.0; val cyS = (h - 1) / 2.0
    val cxO = (outW - 1) / 2.0; val cyO = (outH - 1) / 2.0
    val out = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var oy = 0
    while (oy < outH) {
      var ox = 0
      while (ox < outW) {
        // inverse map: un-scale, then un-rotate
        val rx = (ox - cxO) / factor
        val ry = (oy - cyO) / factor
        val sx = cosA * rx + sinA * ry + cxS
        val sy = -sinA * rx + cosA * ry + cyS
        val rgb =
          if (sx < 0 || sy < 0 || sx > w - 1 || sy > h - 1)
            (8 << 16) | (8 << 8) | 8
          else {
            val ix = math.min(w - 2, StrictMath.floor(sx).toInt)
            val iy = math.min(h - 2, StrictMath.floor(sy).toInt)
            val fx = math.max(0.0, math.min(1.0, sx - ix))
            val fy = math.max(0.0, math.min(1.0, sy - iy))
            val p00 = img.getRGB(ix, iy); val p10 = img.getRGB(ix + 1, iy)
            val p01 = img.getRGB(ix, iy + 1); val p11 = img.getRGB(ix + 1, iy + 1)
            @inline def ch8(p: Int, s: Int): Double = ((p >> s) & 0xff).toDouble
            @inline def lerp(s: Int): Int = math.round(
              (1 - fy) * ((1 - fx) * ch8(p00, s) + fx * ch8(p10, s)) +
                fy * ((1 - fx) * ch8(p01, s) + fx * ch8(p11, s))).toInt
            (lerp(16) << 16) | (lerp(8) << 8) | lerp(0)
          }
        out.setRGB(ox, oy, rgb)
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** Anamorphic re-mux of any decodable video payload — x scaled by
    * `fx` per frame through the bilinear kernel ([[graft.operators.Multimodal.cropResizeRgb]]
    * full-rect form), re-muxed as uncompressed DIB AVI. */
  def aviAspectDib(payload: Array[Byte], fx: Double,
      fromFrame: Int = 0): Array[Byte] = {
    require(fx > 0.0, "aspect factor must be > 0")
    val fs = containerFrames(payload).getOrElse(
      throw new IllegalArgumentException("undecodable video payload"))
    require(fromFrame >= 0 && fromFrame < fs.length,
      "fromFrame must land inside the stream")
    aviFromImages(fs.drop(fromFrame).map { b =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b))
      cropResizeRgb(img, 0, 0, img.getWidth, img.getHeight,
        math.max(1, math.round(img.getWidth * fx).toInt), img.getHeight)
    })
  }

  /** Rotate-about-center (+ uniform scale) re-mux of any decodable
    * video payload — the video rotation tier's fixture transform:
    * every frame (from `fromFrame` on) through the [[pngRotateResize]]
    * inverse-map bilinear kernel, re-muxed as uncompressed DIB AVI. */
  def aviRotateResizeDib(payload: Array[Byte], degrees: Double,
      factor: Double = 1.0, fromFrame: Int = 0,
      audioId: Long = -1L, audioSamples: Int = 0): Array[Byte] = {
    val fs = containerFrames(payload).getOrElse(
      throw new IllegalArgumentException("undecodable video payload"))
    require(fromFrame >= 0 && fromFrame < fs.length,
      "fromFrame must land inside the stream")
    aviFromImages(fs.drop(fromFrame).map { b =>
      val png = pngRotateResize(encodePng(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b))), degrees, factor)
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    }, audioId, audioSamples)
  }

  /** Per-frame DIHEDRAL re-mux of any decodable video payload — the
    * chiral video tier's fixture transform (m187/m188): every frame
    * (from `fromFrame` on — the trim compound composes) through
    * [[pngDihedral]]'s exact pixel permutation (orient 4 = horizontal
    * mirror), re-muxed as uncompressed DIB AVI. Lossless: the
    * permutation is the ONLY pixel change. */
  def aviDihedralDib(payload: Array[Byte], orient: Int,
      fromFrame: Int = 0): Array[Byte] = {
    val fs = containerFrames(payload).getOrElse(
      throw new IllegalArgumentException("undecodable video payload"))
    require(fromFrame >= 0 && fromFrame < fs.length,
      "fromFrame must land inside the stream")
    aviFromImages(fs.drop(fromFrame).map { b =>
      dihedralRgb(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b)), orient)
    })
  }

  /** Crop-then-RESIZE re-encode of any PNG payload — the scale tier's
    * fixture transform: pixels (x0..x1) x (y0..y1) resampled to
    * (outW, outH) by our OWN bilinear kernel (pure doubles +
    * final round — deterministic across JVMs, unlike
    * Graphics2D's platform-delegated scaling), PNG-encoded
    * (lossless, so the resample is the ONLY pixel change). Source
    * coordinates clamp at the crop edges (half-pixel centers). */
  def pngCropResize(payload: Array[Byte], x0: Int, y0: Int, x1: Int,
      y1: Int, outW: Int, outH: Int): Array[Byte] =
    encodePng(cropResizeRgb(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)), x0, y0, x1, y1,
      outW, outH))

  /** Deterministic SMOOTH-BLOB test image for doc `id`: a sum of
    * Gaussian bumps at LCG-derived positions/widths/heights on a dark
    * floor, gray RGB, PNG-encoded. The scale tier's fixture — the
    * modular-arithmetic textures ([[syntheticPng]]) are pure
    * high-frequency fields that ALIAS under resampling (no peak
    * survives a resize, of any detector), while blob centers are
    * large-scale structure that coarse peak detection re-finds within
    * subpixel error at any moderate scale factor. */
  def syntheticPngBlobs(id: Long, w: Int = 128, h: Int = 128,
      nBlobs: Int = 10, minSep: Double = 22.0): Array[Byte] =
    encodePng(blobImage(id, w, h, nBlobs, minSep))

  /** PHOTOGRAPHIC-texture master for doc `id`: the [[blobImage]]
    * structure (the plantable peaks) layered with what a camera
    * frame carries and the clean blob fixtures deliberately omit —
    * a low-frequency illumination gradient, mid-frequency smooth
    * value noise (bilinear-interpolated seeded lattice, the
    * cloud/surface texture class), and per-pixel sensor grain —
    * then LOSSY JPEG-encoded, so the payload also carries real 8x8
    * quantization artifacts. The affine-frame family's recall and
    * spurious numbers on this class are the photo-world measurement
    * the blob-world sweeps cannot give: texture shifts peak values,
    * seeds spurious weak peaks, and JPEG noise perturbs every pixel
    * the detector smooths over. Deterministic for fixed (id, params)
    * on a fixed JVM (the pinned-golden contract; the JDK's JPEG
    * writer is pure-Java and stable within a JVM version). */
  def syntheticJpegTextured(id: Long, w: Int = 256, h: Int = 256,
      nBlobs: Int = 24, minSep: Double = 22.0,
      quality: Float = 0.8f): Array[Byte] = {
    val img = blobImage(id, w, h, nBlobs, minSep)
    // texture layers seeded independently of the blob stream so the
    // same id never correlates structure with texture
    var st = id * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    @inline def nxt(): Long = {
      st = st * 6364136223846793005L + 1442695040888963407L
      st >>> 16
    }
    // illumination gradient: +-20 gray levels corner to corner
    val gx = ((nxt() % 1000).toDouble / 1000.0 - 0.5) * 40.0
    val gy = ((nxt() % 1000).toDouble / 1000.0 - 0.5) * 40.0
    // value-noise lattice (16 px): amplitude +-10, smooth — survives
    // the detector's box smoothing attenuated, the spurious-peak seed
    val lw = w / 16 + 2; val lh = h / 16 + 2
    val lat = Array.fill(lh, lw)(((nxt() % 2001).toDouble - 1000.0) / 100.0)
    @inline def grain(x: Int, y: Int): Double = {
      // per-pixel hash noise, +-4: sensor grain (mostly smoothed out)
      val hsh = (x * 0x9E3779B1L + y * 0x85EBCA77L + id * 0xC2B2AE35L)
      (((hsh ^ (hsh >>> 13)) & 0xff) - 127.5) / 16.0
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = img.getRGB(x, y) & 0xff
        val fx = x / 16.0; val fy = y / 16.0
        val ix = fx.toInt; val iy = fy.toInt
        val tx = fx - ix; val ty = fy - iy
        val vn = (1 - ty) * ((1 - tx) * lat(iy)(ix) + tx * lat(iy)(ix + 1)) +
          ty * ((1 - tx) * lat(iy + 1)(ix) + tx * lat(iy + 1)(ix + 1))
        val v = base + gx * x / w + gy * y / h + vn + grain(x, y)
        val g = math.max(0, math.min(255, math.round(v).toInt))
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    jpegEncode(img, quality)
  }

  /** The blob renderer behind [[syntheticPngBlobs]] and
    * [[syntheticAviBlobs]] — seeded Gaussian bumps on a dark floor,
    * rejection-separated so every blob is an isolated strict
    * maximum. */
  private def blobImage(id: Long, w: Int, h: Int, nBlobs: Int,
      minSep: Double): java.awt.image.BufferedImage = {
    var st = id * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    @inline def nxt(): Long = {
      st = st * 6364136223846793005L + 1442695040888963407L
      st >>> 16
    }
    val cx = new Array[Double](nBlobs)
    val cy = new Array[Double](nBlobs)
    val sg = new Array[Double](nBlobs)
    val am = new Array[Double](nBlobs)
    // rejection-sample centers to >= minSep apart: overlapping bumps
    // merge (or clip) into PLATEAUS that have no strict maximum at
    // all, and a plateau's apparent center is resampling-unstable —
    // separation is what makes blob center == detected peak
    var i = 0
    var attempts = 0
    while (i < nBlobs && attempts < 10000) {
      val x = 14.0 + (nxt() % 1000).toDouble * (w - 28) / 1000.0
      val y = 14.0 + (nxt() % 1000).toDouble * (h - 28) / 1000.0
      var ok = true
      var j = 0
      while (ok && j < i) {
        val dx = x - cx(j); val dy = y - cy(j)
        if (dx * dx + dy * dy < minSep * minSep) ok = false
        j += 1
      }
      if (ok) {
        cx(i) = x; cy(i) = y
        sg(i) = 4.5 + (nxt() % 1000).toDouble * 3.0 / 1000.0
        am(i) = 70.0 + (nxt() % 1000).toDouble * 110.0 / 1000.0
        i += 1
      }
      attempts += 1
    }
    require(i == nBlobs,
      s"blob placement failed after $attempts attempts — lower " +
        "nBlobs or minSep for this canvas")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v = 8.0
        var b = 0
        while (b < nBlobs) {
          val dx = x - cx(b); val dy = y - cy(b)
          v += am(b) * StrictMath.exp(
            -(dx * dx + dy * dy) / (2.0 * sg(b) * sg(b)))
          b += 1
        }
        val g = math.min(255, math.round(v).toInt)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Optional PCM16 mono 8 kHz audio stream for an AVI mux: the
    * (strl header LIST, movi '01wb' chunks) pair, empty when
    * `audioSamples <= 0`. The sample formula and the two-chunk
    * interleave are [[syntheticAvi]]'s audio leg verbatim (factored so
    * the transform muxers can plant "same audio" across frame
    * transforms — the joint-fusion fixtures), so the SAME audioId on
    * two containers is the bit-exact same track and the oracle
    * regenerates the samples arithmetically (the m79/m80 contract). */
  private def aviAudioParts(audioId: Long,
      audioSamples: Int): (Array[Byte], Array[Byte]) = {
    if (audioSamples <= 0) (Array.emptyByteArray, Array.emptyByteArray)
    else {
      val le16b = (v: Int) => Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      val wf = le16b(1) ++ le16b(1) ++ leBytes(Seq(8000, 16000)) ++
        le16b(2) ++ le16b(16)
      val astrh = riffChunk("strh",
        fourcc("auds") ++ fourcc("    ") ++
          leBytes(Seq(0, 0, 0, 1, 8000, 0, audioSamples, 0, 0, 0)) ++
          leBytes(Seq(0, 0)))
      val strl = riffChunk("LIST",
        fourcc("strl") ++ astrh ++ riffChunk("strf", wf))
      val pcm = new Array[Byte](audioSamples * 2)
      var n = 0
      while (n < audioSamples) {
        val s = (((audioId * 40503L + 12289L) * (n + 7L) * (n + 13L)) % 65536L
          - 32768L).toInt
        pcm(2 * n) = (s & 0xff).toByte
        pcm(2 * n + 1) = ((s >> 8) & 0xff).toByte
        n += 1
      }
      val half = (audioSamples / 2) * 2 // split on a sample boundary
      val chunks =
        riffChunk("01wb", java.util.Arrays.copyOfRange(pcm, 0, half)) ++
          riffChunk("01wb", java.util.Arrays.copyOfRange(pcm, half, pcm.length))
      (strl, chunks)
    }
  }

  /** Uncompressed 24-bit DIB AVI from arbitrary frames — the
    * transform-fixture muxer ([[aviCropResizeDib]]): same RIFF layout
    * as [[syntheticAvi]]'s DIB leg, so [[graft.operators.Multimodal.containerFrames]] reads the
    * frames back bit-exactly as BMPs. All frames must share one
    * size. `audioId`/`audioSamples` plant [[syntheticAvi]]'s PCM16
    * audio stream alongside the transformed frames — the joint-fusion
    * fixture knob (same audioId = bit-exact same track). */
  private def aviFromImages(
      frames: Seq[java.awt.image.BufferedImage],
      audioId: Long = -1L, audioSamples: Int = 0): Array[Byte] = {
    require(frames.nonEmpty, "aviFromImages needs at least one frame")
    val w = frames.head.getWidth
    val h = frames.head.getHeight
    require(frames.forall(f => f.getWidth == w && f.getHeight == h),
      "all frames must share one size")
    val rowBytes = (w * 3 + 3) & ~3
    val frameChunks = frames.map { img =>
      val px = new Array[Byte](rowBytes * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val o = (h - 1 - y) * rowBytes + x * 3
          px(o) = (rgb & 0xff).toByte
          px(o + 1) = ((rgb >> 8) & 0xff).toByte
          px(o + 2) = ((rgb >> 16) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      riffChunk("00db", px)
    }
    val strf = riffChunk("strf", leBytes(Seq(
      40, w, h, 1 | (24 << 16), 0, rowBytes * h, 0, 0, 0, 0)))
    val strh = riffChunk("strh",
      fourcc("vids") ++ fourcc("    ") ++
        leBytes(Seq(0, 0, 0, 1, 25, 0, frames.length, 0, 0, 0)) ++
        leBytes(Seq(0, w | (h << 16))))
    val strl = riffChunk("LIST", fourcc("strl") ++ strh ++ strf)
    val (audioStrl, audioChunks) = aviAudioParts(audioId, audioSamples)
    val nStr = if (audioSamples > 0) 2 else 1
    val avih = riffChunk("avih", leBytes(Seq(
      40000, 0, 0, 0, frames.length, 0, nStr, 0, w, h, 0, 0, 0, 0)))
    val hdrl = riffChunk("LIST", fourcc("hdrl") ++ avih ++ strl ++ audioStrl)
    val movi = riffChunk("LIST",
      fourcc("movi") ++ frameChunks.reduce(_ ++ _) ++ audioChunks)
    riffChunk("RIFF", fourcc("AVI ") ++ hdrl ++ movi)
  }

  /** Deterministic SMOOTH-BLOB AVI for doc `id` — the VIDEO scale
    * tier's fixture ([[syntheticPngBlobs]] per frame): frame f
    * renders the blob field seeded by (id, f), so every frame has its
    * own isolated large-scale structure and the modular-texture
    * aliasing problem ([[syntheticAvi]]'s pixel formula is a pure
    * high-frequency field) never arises. Seeds are spaced so no two
    * (id, f) pairs collide for f < 2^20. */
  def syntheticAviBlobs(id: Long, nFrames: Int, w: Int = 96,
      h: Int = 96, nBlobs: Int = 8, minSep: Double = 20.0,
      audioId: Long = -1L, audioSamples: Int = 0): Array[Byte] =
    aviFromImages((0 until nFrames).map(f =>
      blobImage(id * 1048573L + f * 7919L, w, h, nBlobs, minSep)),
      audioId, audioSamples)

  /** Crop-then-RESIZE re-mux of any decodable video payload — the
    * video scale tier's fixture transform: every frame (from
    * `fromFrame` on — the leading-TRIM compound) through the
    * [[graft.operators.Multimodal.cropResizeRgb]] bilinear kernel, re-muxed as uncompressed DIB
    * AVI. The resample is the ONLY pixel change (DIB is lossless). */
  def aviCropResizeDib(payload: Array[Byte], x0: Int, y0: Int, x1: Int,
      y1: Int, outW: Int, outH: Int, fromFrame: Int = 0): Array[Byte] = {
    val fs = containerFrames(payload).getOrElse(
      throw new IllegalArgumentException("undecodable video payload"))
    require(fromFrame >= 0 && fromFrame < fs.length,
      "fromFrame must land inside the stream")
    aviFromImages(fs.drop(fromFrame).map(b =>
      cropResizeRgb(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b)), x0, y0, x1, y1, outW, outH)))
  }

  /** [[syntheticPng]] with a small planted edit (a +delta luma patch on
    * a 3x3 corner block) — the perceptual-near-duplicate fixture for
    * the pHash gate: same texture, slightly different pixels. */
  def syntheticPngVariant(id: Long, delta: Int = 12,
      w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(syntheticPng(id, w, h)))
    for (y <- 0 until 3; x <- 0 until 3) {
      val rgb = img.getRGB(x, y)
      def bump(v: Int) = math.min(255, v + delta)
      img.setRGB(x, y,
        (bump((rgb >> 16) & 0xff) << 16) | (bump((rgb >> 8) & 0xff) << 8) |
          bump(rgb & 0xff))
    }
    encodePng(img)
  }

  /** Deterministic multi-frame grayscale GIF for doc `id`: frame f's
    * pixel (x,y) is a pure integer function of (id, f, x, y). Gray in =
    * gray out (the GIF palette covers all 256 grays, and BT.601 luma of
    * (g,g,g) is exactly g), so decoded frames recover the generator
    * values bit-for-bit — feeds the m76 pinned-golden frame gate with
    * no fixtures on disk. */
  def syntheticGif(id: Long, w: Int = 16, h: Int = 16, nFrames: Int = 4): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nFrames).foreach { f =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((id * 7 + f * 41 + x * 13 + y * 31) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  // ---- VIDEO: RIFF/AVI mux (the container aviFrames walks) --------

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def riffChunk(id: String, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + data.length + (data.length & 1))
    var i = 0
    while (i < 4) { out(i) = id(i).toByte; i += 1 }
    var v = data.length
    while (i < 8) { out(i) = (v & 0xff).toByte; v >>>= 8; i += 1 }
    System.arraycopy(data, 0, out, 8, data.length)
    out
  }

  private def leBytes(xs: Seq[Int]): Array[Byte] = {
    val out = new Array[Byte](xs.length * 4)
    var i = 0
    xs.foreach { x =>
      out(i) = (x & 0xff).toByte; out(i + 1) = ((x >> 8) & 0xff).toByte
      out(i + 2) = ((x >> 16) & 0xff).toByte; out(i + 3) = ((x >> 24) & 0xff).toByte
      i += 4
    }
    out
  }

  /** One [[aviPixel]] frame JPEG-encoded via javax.imageio — shared by
    * [[syntheticAvi]]'s MJPEG mode and [[syntheticMp4]], so the SAME
    * (id, f) renders to byte-identical JPEG in both containers (the
    * cross-container dedup fixtures rely on that: identical sample
    * bytes → identical pHash, whatever the JDK codec's exact output). */
  private def mjpegFrame(fid: Long, f: Int, w: Int, h: Int, delta: Int,
      global0: Boolean, mirrorX: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        aviPixel(fid, f, if (mirrorX) w - 1 - x else x, y, delta, global0))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  private def aviPixel(id: Long, f: Int, x: Int, y: Int, delta: Int,
      global0: Boolean): Int = {
    def bump(v: Long) = if (delta > 0 && (global0 || (x < 3 && y < 3)))
      math.min(255L, v + delta).toInt else v.toInt
    val r = bump((id * 7 + f * 19 + x * 13 + y * 31) % 256)
    val g = bump((id * 11 + f * 23 + x * 3 + y * 17) % 256)
    val b = bump((id * 5 + f * 29 + x * 29 + y * 7) % 256)
    (r << 16) | (g << 8) | b
  }

  /** Deterministic synthetic AVI for doc `id`: frame f's pixel (x,y)
    * is a pure integer function of (id, f, x, y) — the video analog of
    * [[syntheticPng]] / [[syntheticGif]]. Uncompressed 24-bit DIB
    * frames by default (bit-exact through the BMP decode, so gates can
    * pin goldens); `mjpeg = true` writes each frame as a JPEG '00dc'
    * chunk instead (javax.imageio encode — the real-container fixture
    * for the MJPEG parse path). `delta` plants a luma bump on every
    * frame — on the 3x3 corner ([[syntheticPngVariant]]-style) by
    * default, or on EVERY pixel with `global0` (clamped at 255, so the
    * AC spectrum moves only where clamping bites — the
    * brightness-adjusted re-upload, 0-2 pHash bits per frame). */
  def syntheticAvi(id: Long, nFrames: Int, w: Int = 16, h: Int = 16,
      mjpeg: Boolean = false, delta: Int = 0,
      global0: Boolean = false, intro: Int = 0,
      frameOffset: Int = 0, audioId: Long = -1L,
      audioSamples: Int = 0, mirrorX: Boolean = false,
      rotQ: Int = 0, rateNum: Int = 1, rateDen: Int = 1,
      srcX0: Int = 0, srcY0: Int = 0): Array[Byte] = {
    // rotQ renders every frame turned rotQ clockwise quarter turns
    // (DIB leg; square frames) — composed AFTER mirrorX, so
    // mirrorX+rotQ is the rotate(mirror(frame)) dihedral compound
    require(rotQ == 0 || (!mjpeg && w == h),
      "frame rotation: DIB leg, square frames only")
    require(rateNum >= 1 && rateDen >= 1, "rate must be positive")
    // srcX0/srcY0 render this container's (w, h) frames as the window
    // at that offset of the base pixel field — the video CROP fixture
    // (every frame contains exactly those pixels of the master's
    // frame, the m130 contract); orientation knobs keep their plain
    // meaning by staying mutually exclusive with the offset
    require((srcX0 == 0 && srcY0 == 0) || (!mirrorX && rotQ == 0 && !mjpeg),
      "source offset (crop): DIB leg only, no mirror/rotation")
    require(srcX0 >= 0 && srcY0 >= 0, "source offset must be >= 0")
    val rowBytes = (w * 3 + 3) & ~3
    val frameChunks = (0 until nFrames).map { f0 =>
      // `frameOffset` renders frame f of THIS container as frame
      // f+offset of the base stream — the leading-TRIM fixture for the
      // video landmark tier (cut k frames off the front, bit-exact).
      // rateNum/rateDen remap the base index as floor(f*rateNum/
      // rateDen) — the index arithmetic every naive FRAME-RATE
      // converter does: 5/4 DROPS every 5th base frame (30->24 fps),
      // 4/5 DUPLICATES every 4th (24->30 fps). Defaults reproduce the
      // old stream bit-exactly.
      val f = frameOffset + (f0.toLong * rateNum / rateDen).toInt
      // frames below `intro` render with a fixed sentinel id — a
      // SHARED intro/title sequence across otherwise-unrelated videos,
      // the hot-bucket fixture for videoNearDupPairs' maxDf cap (the
      // sentinel keeps the intro from colliding with any real doc's
      // own frames; prime, and NOT a multiple of 256 — the pixel
      // formula works mod 256, so a 2^k sentinel would render as id 0)
      val fid = if (f < intro) 999999937L else id
      if (mjpeg) {
        riffChunk("00dc", mjpegFrame(fid, f, w, h, delta, global0, mirrorX))
      } else {
        // bottom-up BGR rows padded to 4 bytes — the DIB layout
        val px = new Array[Byte](rowBytes * h)
        for (y <- 0 until h; x <- 0 until w) {
          // inverse rotation: source coords of output pixel (x, y)
          val (sx, sy) = rotQ % 4 match {
            case 1 => (y, h - 1 - x)
            case 2 => (w - 1 - x, h - 1 - y)
            case 3 => (w - 1 - y, x)
            case _ => (x, y)
          }
          val rgb = aviPixel(fid, f,
            srcX0 + (if (mirrorX) w - 1 - sx else sx), srcY0 + sy,
            delta, global0)
          val o = (h - 1 - y) * rowBytes + x * 3
          px(o) = (rgb & 0xff).toByte
          px(o + 1) = ((rgb >> 8) & 0xff).toByte
          px(o + 2) = ((rgb >> 16) & 0xff).toByte
        }
        riffChunk("00db", px)
      }
    }
    val compression = if (mjpeg) 0x47504A4D else 0 // 'MJPG' LE | BI_RGB
    val strf = riffChunk("strf", leBytes(Seq(
      40, w, h, 1 | (24 << 16), compression, rowBytes * h, 0, 0, 0, 0)))
    val strh = riffChunk("strh",
      fourcc("vids") ++ fourcc(if (mjpeg) "MJPG" else "\u0000\u0000\u0000\u0000") ++
        leBytes(Seq(0, 0, 0, 1, 25, 0, nFrames, 0, 0, 0)) ++
        leBytes(Seq(0, w | (h << 16))))
    val strl = riffChunk("LIST", fourcc("strl") ++ strh ++ strf)
    // optional PCM16 mono 8 kHz audio track as stream 1: `audioId`
    // drives the syntheticWavTex sample formula, so the SAME audioId on
    // two different-video containers plants the "same audio, different
    // video" re-upload the m88 extraction gate hunts — and the oracle
    // regenerates the samples arithmetically (the m79/m80 contract).
    // PCM is split across two '01wb' chunks to exercise the
    // concatenating movi walk, the interleaving every real muxer does.
    val (audioStrl, audioChunks) = aviAudioParts(audioId, audioSamples)
    val nStr = if (audioSamples > 0) 2 else 1
    val avih = riffChunk("avih", leBytes(Seq(
      40000, 0, 0, 0, nFrames, 0, nStr, 0, w, h, 0, 0, 0, 0)))
    val hdrl = riffChunk("LIST", fourcc("hdrl") ++ avih ++ strl ++ audioStrl)
    val movi = riffChunk("LIST",
      fourcc("movi") ++ frameChunks.reduce(_ ++ _) ++ audioChunks)
    riffChunk("RIFF", fourcc("AVI ") ++ hdrl ++ movi)
  }

  // ---- VIDEO: ISO-BMFF (MP4/fMP4) mux (the boxes mp4Tracks walks) --

  private def be16b(v: Int): Array[Byte] =
    Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def beBytes(xs: Seq[Int]): Array[Byte] = {
    val out = new Array[Byte](xs.length * 4)
    var i = 0
    xs.foreach { x =>
      out(i) = ((x >> 24) & 0xff).toByte; out(i + 1) = ((x >> 16) & 0xff).toByte
      out(i + 2) = ((x >> 8) & 0xff).toByte; out(i + 3) = (x & 0xff).toByte
      i += 4
    }
    out
  }

  private def mp4Box(tp: String, data: Array[Byte]*): Array[Byte] = {
    val len = 8 + data.map(_.length).sum
    val out = new Array[Byte](len)
    System.arraycopy(beBytes(Seq(len)), 0, out, 0, 4)
    System.arraycopy(fourcc(tp), 0, out, 4, 4)
    var o = 8
    data.foreach { d => System.arraycopy(d, 0, out, o, d.length); o += d.length }
    out
  }

  private def fullBox(tp: String, payload: Array[Byte], flags: Int = 0): Array[Byte] =
    mp4Box(tp, beBytes(Seq(flags)), payload)

  private def hdlrBox(kind: String): Array[Byte] =
    fullBox("hdlr", beBytes(Seq(0)) ++ fourcc(kind) ++
      beBytes(Seq(0, 0, 0)) ++ Array[Byte](0))

  private def mp4Dinf: Array[Byte] = mp4Box("dinf",
    fullBox("dref", beBytes(Seq(1)) ++ fullBox("url ",
      Array.emptyByteArray, flags = 1)))

  /** Deterministic synthetic MP4 for doc `id` — the ISO-BMFF analog of
    * [[syntheticAvi]]: MJPEG ('jpeg' stsd entry, one JPEG sample per
    * frame via the SHARED [[mjpegFrame]] encoder, so the same (id, f)
    * is byte-identical across containers) plus an optional PCM16 mono
    * 8 kHz 'sowt' audio track whose samples follow the exact
    * [[syntheticAvi]] `audioId` formula. The video track uses a
    * per-sample stsz and one-sample-per-chunk stco; the audio track
    * uses the UNIFORM stsz (sample = one PCM16 frame) split across two
    * chunks with a two-run stsc — between them the fixtures cover both
    * sample-table layouts real muxers emit; `co64` swaps the chunk
    * offsets to the 64-bit box (the past-4-GiB layout). `frameOffset` /
    * `intro` / `delta` mirror the AVI generator's trim / shared-title /
    * re-level edit fixtures. */
  def syntheticMp4(id: Long, nFrames: Int, w: Int = 16, h: Int = 16,
      delta: Int = 0, global0: Boolean = false, intro: Int = 0,
      frameOffset: Int = 0, audioId: Long = -1L,
      audioSamples: Int = 0, co64: Boolean = false): Array[Byte] = {
    require(nFrames >= 1, "nFrames must be >= 1")
    val frames = (0 until nFrames).map { f0 =>
      val f = f0 + frameOffset
      val fid = if (f < intro) 999999937L else id
      mjpegFrame(fid, f, w, h, delta, global0)
    }
    val pcm: Array[Byte] =
      if (audioSamples <= 0) Array.emptyByteArray
      else {
        val p = new Array[Byte](audioSamples * 2)
        var n = 0
        while (n < audioSamples) {
          val s = (((audioId * 40503L + 12289L) * (n + 7L) * (n + 13L)) % 65536L
            - 32768L).toInt
          p(2 * n) = (s & 0xff).toByte
          p(2 * n + 1) = ((s >> 8) & 0xff).toByte
          n += 1
        }
        p
      }
    val ftyp = mp4Box("ftyp", fourcc("isom"), beBytes(Seq(0)), fourcc("isom"))
    val mdat = mp4Box("mdat", (frames :+ pcm): _*)
    val dataStart = ftyp.length + 8 // absolute offset of mdat payload
    val frameOffsets = frames.scanLeft(dataStart)(_ + _.length).dropRight(1)
    val audioOff = dataStart + frames.map(_.length).sum

    val dinf = mp4Dinf
    // `co64` stores the same offsets 64-bit wide — the layout muxers
    // switch to past 4 GiB, exercised so the parser's co64 leg is real
    def offsetsBox(offs: Seq[Int]): Array[Byte] =
      if (co64) fullBox("co64",
        beBytes(Seq(offs.length) ++ offs.flatMap(o => Seq(0, o))))
      else fullBox("stco", beBytes(Seq(offs.length) ++ offs))
    def trakBox(trackId: Int, duration: Int, timescale: Int,
        hdlr: String, mhd: Array[Byte], stsdEntry: Array[Byte],
        stts: Array[Byte], stsc: Array[Byte], stsz: Array[Byte],
        stcoBox: Array[Byte]): Array[Byte] = {
      val tkhd = fullBox("tkhd",
        beBytes(Seq(0, 0, trackId, 0, duration)) ++ new Array[Byte](60),
        flags = 7)
      val mdhd = fullBox("mdhd", beBytes(Seq(0, 0, timescale, duration)) ++
        be16b(0x55c4) ++ be16b(0))
      val stbl = mp4Box("stbl",
        fullBox("stsd", beBytes(Seq(1)) ++ stsdEntry),
        fullBox("stts", stts), fullBox("stsc", stsc),
        fullBox("stsz", stsz), stcoBox)
      mp4Box("trak", tkhd, mp4Box("mdia", mdhd, hdlrBox(hdlr),
        mp4Box("minf", mhd, dinf, stbl)))
    }

    val videoEntry = mp4Box("jpeg",
      new Array[Byte](6), be16b(1),           // reserved + data_ref_index
      beBytes(Seq(0, 0, 0, 0)),               // pre_defined / reserved
      be16b(w), be16b(h),
      beBytes(Seq(0x00480000, 0x00480000, 0)), // 72 dpi + reserved
      be16b(1),                                // frame count per sample
      new Array[Byte](32),                     // compressor name
      be16b(24), be16b(0xffff))                // depth, pre_defined(-1)
    val vTrak = trakBox(1, nFrames, 25, "vide",
      fullBox("vmhd", new Array[Byte](8), flags = 1), videoEntry,
      stts = beBytes(Seq(1, nFrames, 1)),
      stsc = beBytes(Seq(1, 1, 1, 1)),
      stsz = beBytes(Seq(0, nFrames) ++ frames.map(_.length)),
      stcoBox = offsetsBox(frameOffsets))

    val aTrak =
      if (audioSamples <= 0) Array.emptyByteArray
      else {
        val audioEntry = mp4Box("sowt",
          new Array[Byte](6), be16b(1),
          beBytes(Seq(0, 0)),                  // version/revision/vendor
          be16b(1), be16b(16),                 // channels, sample size
          be16b(0), be16b(0),                  // compression, packet size
          be16b(8000), be16b(0))               // 16.16 sample rate
        val half = audioSamples / 2
        val (stscA, stcoA) =
          if (half >= 1 && audioSamples - half >= 1)
            (beBytes(Seq(2, 1, half, 1, 2, audioSamples - half, 1)),
              offsetsBox(Seq(audioOff, audioOff + half * 2)))
          else
            (beBytes(Seq(1, 1, audioSamples, 1)),
              offsetsBox(Seq(audioOff)))
        trakBox(2, audioSamples, 8000, "soun",
          fullBox("smhd", new Array[Byte](4)), audioEntry,
          stts = beBytes(Seq(1, audioSamples, 1)),
          stsc = stscA,
          stsz = beBytes(Seq(2, audioSamples)), // uniform: 2 bytes/sample
          stcoBox = stcoA)
      }

    val mvhd = fullBox("mvhd", beBytes(Seq(0, 0, 25, nFrames, 0x00010000)) ++
      be16b(0x0100) ++ new Array[Byte](10) ++
      beBytes(Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)) ++
      beBytes(Seq(0, 0, 0, 0, 0, 0, 3)))
    val moov =
      if (audioSamples <= 0) mp4Box("moov", mvhd, vTrak)
      else mp4Box("moov", mvhd, vTrak, aTrak)
    ftyp ++ mdat ++ moov
  }

  /** Deterministic synthetic FRAGMENTED MP4 (fMP4 — the DASH/HLS
    * streaming mux) for doc `id`: same [[mjpegFrame]] stream as
    * [[syntheticMp4]], but the moov carries EMPTY sample tables plus an
    * mvex/trex, and the samples arrive in `moof`+`mdat` fragments of
    * `perFrag` frames — each moof's traf holds a tfhd
    * (default-base-is-moof) and a trun with data-offset +
    * per-sample sizes, the shape real segmenters emit. Frame bytes are
    * byte-identical to the plain-MP4/AVI muxes of the same (id, f), so
    * the cross-container fixtures extend to the streaming mux.
    * `audioId`/`audioSamples` add a PCM16 'sowt' track whose samples
    * are ALSO fragment-resident (track-2 trun runs, the DASH muxed-av
    * segment shape) following the exact [[syntheticAvi]] audio
    * formula. */
  def syntheticFmp4(id: Long, nFrames: Int, w: Int = 16, h: Int = 16,
      perFrag: Int = 2, delta: Int = 0, global0: Boolean = false,
      frameOffset: Int = 0, audioId: Long = -1L,
      audioSamples: Int = 0): Array[Byte] = {
    require(nFrames >= 1 && perFrag >= 1)
    val frames = (0 until nFrames).map(f0 =>
      mjpegFrame(id, f0 + frameOffset, w, h, delta, global0))
    val ftyp = mp4Box("ftyp", fourcc("isom"), beBytes(Seq(0)), fourcc("isom"))
    val tkhd = fullBox("tkhd",
      beBytes(Seq(0, 0, 1, 0, nFrames)) ++ new Array[Byte](60), flags = 7)
    val mdhd = fullBox("mdhd", beBytes(Seq(0, 0, 25, nFrames)) ++
      be16b(0x55c4) ++ be16b(0))
    val videoEntry = mp4Box("jpeg",
      new Array[Byte](6), be16b(1),
      beBytes(Seq(0, 0, 0, 0)),
      be16b(w), be16b(h),
      beBytes(Seq(0x00480000, 0x00480000, 0)),
      be16b(1), new Array[Byte](32), be16b(24), be16b(0xffff))
    // empty tables: the fragments carry every sample
    val stbl = mp4Box("stbl",
      fullBox("stsd", beBytes(Seq(1)) ++ videoEntry),
      fullBox("stts", beBytes(Seq(0))),
      fullBox("stsc", beBytes(Seq(0))),
      fullBox("stsz", beBytes(Seq(0, 0))),
      fullBox("stco", beBytes(Seq(0))))
    val trak = mp4Box("trak", tkhd, mp4Box("mdia", mdhd, hdlrBox("vide"),
      mp4Box("minf", fullBox("vmhd", new Array[Byte](8), flags = 1),
        mp4Dinf, stbl)))
    // optional PCM16 audio track, ALSO fragment-resident (the DASH
    // muxed-av segment shape): empty moov tables, sowt stsd for the
    // codec params, samples in track-2 moof/trun fragments below
    val aTrak =
      if (audioSamples <= 0) Array.emptyByteArray
      else {
        val audioEntry = mp4Box("sowt",
          new Array[Byte](6), be16b(1),
          beBytes(Seq(0, 0)),
          be16b(1), be16b(16),
          be16b(0), be16b(0),
          be16b(8000), be16b(0))
        val aTkhd = fullBox("tkhd",
          beBytes(Seq(0, 0, 2, 0, audioSamples)) ++ new Array[Byte](60),
          flags = 7)
        val aMdhd = fullBox("mdhd", beBytes(Seq(0, 0, 8000, audioSamples)) ++
          be16b(0x55c4) ++ be16b(0))
        val aStbl = mp4Box("stbl",
          fullBox("stsd", beBytes(Seq(1)) ++ audioEntry),
          fullBox("stts", beBytes(Seq(0))),
          fullBox("stsc", beBytes(Seq(0))),
          fullBox("stsz", beBytes(Seq(0, 0))),
          fullBox("stco", beBytes(Seq(0))))
        mp4Box("trak", aTkhd, mp4Box("mdia", aMdhd, hdlrBox("soun"),
          mp4Box("minf", fullBox("smhd", new Array[Byte](4)),
            mp4Dinf, aStbl)))
      }
    val mvex =
      if (audioSamples <= 0) mp4Box("mvex",
        fullBox("trex", beBytes(Seq(1, 1, 0, 0, 0)))) // track 1 defaults
      else mp4Box("mvex",
        fullBox("trex", beBytes(Seq(1, 1, 0, 0, 0))),
        fullBox("trex", beBytes(Seq(2, 1, 0, 0, 0))))
    val mvhd = fullBox("mvhd", beBytes(Seq(0, 0, 25, nFrames, 0x00010000)) ++
      be16b(0x0100) ++ new Array[Byte](10) ++
      beBytes(Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)) ++
      beBytes(Seq(0, 0, 0, 0, 0, 0, if (audioSamples > 0) 3 else 2)))
    val moov =
      if (audioSamples <= 0) mp4Box("moov", mvhd, trak, mvex)
      else mp4Box("moov", mvhd, trak, aTrak, mvex)
    def fragment(track: Int, seq: Int, fs: Seq[Array[Byte]]): Array[Byte] = {
      val tfhd = fullBox("tfhd", beBytes(Seq(track)), flags = 0x20000) // base-is-moof
      // trun flags 0x201: data-offset present + per-sample sizes; the
      // data offset (moof length + mdat header) back-patches below
      val trun = fullBox("trun",
        beBytes(Seq(fs.length, 0) ++ fs.map(_.length)), flags = 0x201)
      val moof = mp4Box("moof",
        fullBox("mfhd", beBytes(Seq(seq))),
        mp4Box("traf", tfhd, trun))
      // patch the trun data_offset: it sits 16 bytes into the trun box
      // (size, type, ver/flags, sample_count), whose position inside
      // moof is everything before it
      val trunPos = moof.length - trun.length + 16
      val dataOffset = moof.length + 8
      System.arraycopy(beBytes(Seq(dataOffset)), 0, moof, trunPos, 4)
      moof ++ mp4Box("mdat", fs: _*)
    }
    val videoFrags = frames.grouped(perFrag).zipWithIndex
      .map { case (fs, seq) => fragment(1, seq + 1, fs) }.toSeq
    // audio fragments: the PCM stream split in two track-2 fragments
    // (one "sample" per fragment chunk — trun granularity is the
    // segmenter's choice; the concatenating walk never sees it)
    val audioFrags =
      if (audioSamples <= 0) Seq.empty
      else {
        val pcm = new Array[Byte](audioSamples * 2)
        var n = 0
        while (n < audioSamples) {
          val v = (((audioId * 40503L + 12289L) * (n + 7L) * (n + 13L))
            % 65536L - 32768L).toInt
          pcm(2 * n) = (v & 0xff).toByte
          pcm(2 * n + 1) = ((v >> 8) & 0xff).toByte
          n += 1
        }
        val half = (audioSamples / 2) * 2
        Seq(
          fragment(2, videoFrags.length + 1,
            Seq(java.util.Arrays.copyOfRange(pcm, 0, half))),
          fragment(2, videoFrags.length + 2,
            Seq(java.util.Arrays.copyOfRange(pcm, half, pcm.length))))
      }
    (videoFrags ++ audioFrags).foldLeft(ftyp ++ moov)(_ ++ _)
  }

  // EBML writer primitives for the synthetic fixture generator
  private def ebmlIdBytes(id: Long): Array[Byte] = {
    var w = 1
    while ((id >>> (8 * w)) != 0) w += 1
    Array.tabulate(w)(i => ((id >>> (8 * (w - 1 - i))) & 0xff).toByte)
  }

  private def ebmlSizeBytes(v: Long): Array[Byte] = {
    // minimal-width size vint; all-value-bits-set is the reserved
    // unknown-size form, so a value that would fill its width widens
    var w = 1
    while (w < 8 && v >= (1L << (7 * w)) - 1) w += 1
    val out = new Array[Byte](w)
    var i = w - 1; var x = v
    while (i >= 0) { out(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    out(0) = (out(0) | (0x100 >> w)).toByte
    out
  }

  private def ebmlElem(id: Array[Byte], data: Array[Byte]*): Array[Byte] = {
    val len = data.map(_.length).sum
    val szb = ebmlSizeBytes(len.toLong)
    val out = new Array[Byte](id.length + szb.length + len)
    System.arraycopy(id, 0, out, 0, id.length)
    System.arraycopy(szb, 0, out, id.length, szb.length)
    var o = id.length + szb.length
    data.foreach { d => System.arraycopy(d, 0, out, o, d.length); o += d.length }
    out
  }

  private def ebmlUint(id: Long, v: Long): Array[Byte] = {
    var w = 1
    while ((v >>> (8 * w)) != 0) w += 1
    ebmlElem(ebmlIdBytes(id),
      Array.tabulate(w)(i => ((v >>> (8 * (w - 1 - i))) & 0xff).toByte))
  }

  private def ebmlStr(id: Long, s: String): Array[Byte] =
    ebmlElem(ebmlIdBytes(id), s.getBytes("US-ASCII"))

  private def ebmlFloat(id: Long, f: Float): Array[Byte] =
    ebmlElem(ebmlIdBytes(id), beBytes(Seq(java.lang.Float.floatToIntBits(f))))

  /** Deterministic synthetic Matroska for doc `id` — the EBML analog of
    * [[syntheticAvi]]/[[syntheticMp4]]: MJPEG video (one JPEG block per
    * frame via the SHARED [[mjpegFrame]] encoder, so the same (id, f)
    * is byte-identical across all three containers) plus an optional
    * PCM16 mono 8 kHz "A_PCM/INT/LIT" track whose samples follow the
    * exact [[syntheticAvi]] `audioId` formula. Frames split across two
    * Clusters (and the PCM across two blocks, one per cluster) to
    * exercise cluster iteration and the concatenating audio walk.
    * `vfw` muxes the video track as "V_MS/VFW/FOURCC" + CodecPrivate
    * BITMAPINFOHEADER — the compatibility form real AVI→MKV remuxes
    * emit; `blockGroup` wraps frames in BlockGroup>Block instead of
    * SimpleBlock (the pre-v2 form); `unknownSize` writes the Segment
    * with the reserved all-ones size — the live-streaming mux where
    * the muxer cannot know the length ahead. `subsId`/`subsCues` add
    * an "S_TEXT/UTF8" subtitle track whose cue text is an integer
    * formula of (subsId, cue index) — SQL-replayable, the audio
    * contract applied to text. `frameOffset` / `intro` / `delta`
    * mirror the AVI generator's trim / shared-title / re-level edit
    * fixtures. `lacing` muxes each cluster's PCM as ONE laced
    * SimpleBlock instead of one plain block — 1 = Xiph (3 unequal
    * frames), 2 = fixed (2 equal frames), 3 = EBML (3 unequal
    * frames); the concatenated laced frames are byte-identical to the
    * unlaced mux's block, so the audio walk must extract the same WAV
    * from both (the m107 gate). */
  def syntheticMkv(id: Long, nFrames: Int, w: Int = 16, h: Int = 16,
      delta: Int = 0, global0: Boolean = false, intro: Int = 0,
      frameOffset: Int = 0, audioId: Long = -1L, audioSamples: Int = 0,
      vfw: Boolean = false, blockGroup: Boolean = false,
      unknownSize: Boolean = false,
      subsId: Long = -1L, subsCues: Int = 0,
      cueLines: Seq[String] = null, lacing: Int = 0,
      subsAss: Boolean = false): Array[Byte] = {
    require(nFrames >= 1, "nFrames must be >= 1")
    val frames = (0 until nFrames).map { f0 =>
      val f = f0 + frameOffset
      val fid = if (f < intro) 999999937L else id
      mjpegFrame(fid, f, w, h, delta, global0)
    }
    val header = ebmlElem(ebmlIdBytes(0x1A45DFA3L),
      ebmlUint(0x4286, 1), ebmlUint(0x42F7, 1),
      ebmlUint(0x42F2, 4), ebmlUint(0x42F3, 8),
      ebmlStr(0x4282, "matroska"),
      ebmlUint(0x4287, 2), ebmlUint(0x4285, 2))
    val info = ebmlElem(ebmlIdBytes(0x1549A966L),
      ebmlUint(0x2AD7B1, 1000000))
    val vcodec =
      if (vfw) ebmlStr(0x86, "V_MS/VFW/FOURCC") ++
        // the AVI strf BITMAPINFOHEADER verbatim: biCompression 'MJPG'
        ebmlElem(ebmlIdBytes(0x63A2), leBytes(Seq(
          40, w, h, 1 | (24 << 16), 0x47504A4D, 0, 0, 0, 0, 0)))
      else ebmlStr(0x86, "V_MJPEG")
    val videoTrack = ebmlElem(ebmlIdBytes(0xAE),
      ebmlUint(0xD7, 1), ebmlUint(0x73C5, 1), ebmlUint(0x83, 1), vcodec)
    val audioTrack =
      if (audioSamples <= 0) Array.emptyByteArray
      else ebmlElem(ebmlIdBytes(0xAE),
        ebmlUint(0xD7, 2), ebmlUint(0x73C5, 2), ebmlUint(0x83, 2),
        ebmlStr(0x86, "A_PCM/INT/LIT"),
        ebmlElem(ebmlIdBytes(0xE1), ebmlFloat(0xB5, 8000f),
          ebmlUint(0x9F, 1), ebmlUint(0x6264, 16)))
    // subtitle cues: explicit `cueLines` text, or the deterministic
    // integer-derived form (so an oracle regenerates it in SQL — the
    // syntheticWavTex contract applied to text)
    val cues0: Seq[Array[Byte]] =
      if (cueLines != null) cueLines.filter(_.nonEmpty).map(_.getBytes("UTF-8"))
      else (0 until subsCues).map(i =>
        s"c${(subsId * 40503L + i * 127L) % 9973L}".getBytes("UTF-8"))
    val cues = if (!subsAss) cues0
      else cues0.zipWithIndex.map { case (c, i) =>
        s"$i,0,Default,,0,0,0,,".getBytes("UTF-8") ++ c }
    // subsAss muxes the track as styled ASS dialogue lines: each cue
    // payload gains the 8 metadata fields real muxers store; the cue
    // text itself is whatever the caller styled (override tags, \N)
    val subsTrack =
      if (cues.isEmpty) Array.emptyByteArray
      else ebmlElem(ebmlIdBytes(0xAE),
        ebmlUint(0xD7, 3), ebmlUint(0x73C5, 3), ebmlUint(0x83, 0x11),
        ebmlStr(0x86, if (subsAss) "S_TEXT/ASS" else "S_TEXT/UTF8"))
    val tracksEl = ebmlElem(ebmlIdBytes(0x1654AE6BL),
      videoTrack, audioTrack, subsTrack)
    def block(track: Int, rel: Int, data: Array[Byte]): Array[Byte] = {
      val hdr = Array[Byte]((0x80 | track).toByte,
        ((rel >> 8) & 0xff).toByte, (rel & 0xff).toByte,
        (if (blockGroup) 0x00 else 0x80).toByte) // keyframe bit: SB only
      if (blockGroup)
        ebmlElem(ebmlIdBytes(0xA0), ebmlElem(ebmlIdBytes(0xA1), hdr ++ data))
      else ebmlElem(ebmlIdBytes(0xA3), hdr ++ data)
    }
    // one laced SimpleBlock holding the cluster's PCM as 2-3 frames
    // whose concatenation is byte-identical to the unlaced block
    def lacedAudioBlock(track: Int, rel: Int, data: Array[Byte]): Array[Byte] = {
      if (lacing <= 0 || data.length < 6) return block(track, rel, data)
      def slice(a: Int, b: Int) = java.util.Arrays.copyOfRange(data, a, b)
      val fs: Seq[Array[Byte]] =
        if (lacing == 2) { // fixed lacing needs equal frames
          val h2 = data.length / 2
          require(data.length % 2 == 0, "fixed lacing fixture must split evenly")
          Seq(slice(0, h2), slice(h2, data.length))
        } else { // unequal frames exercise the size codings
          val a = math.max(2, (data.length / 4) & ~1)
          val b = math.max(2, (data.length / 3) & ~1)
          Seq(slice(0, a), slice(a, a + b), slice(a + b, data.length))
        }
      val n = fs.length
      val flagBits = lacing match {
        case 1 => 0x02; case 2 => 0x04; case _ => 0x06
      }
      val head = scala.collection.mutable.ArrayBuffer[Byte](
        (0x80 | track).toByte, ((rel >> 8) & 0xff).toByte,
        (rel & 0xff).toByte, (0x80 | flagBits).toByte, (n - 1).toByte)
      lacing match {
        case 1 => // Xiph: 255-run + terminator per leading frame
          fs.take(n - 1).foreach { f =>
            var sz = f.length
            while (sz >= 255) { head += 0xff.toByte; sz -= 255 }
            head += sz.toByte
          }
        case 2 => () // fixed: sizes are implicit
        case _ => // EBML: vint first size, then 2-byte signed deltas
          head ++= ebmlSizeBytes(fs.head.length.toLong)
          var prev = fs.head.length
          fs.slice(1, n - 1).foreach { f =>
            val v = (f.length - prev) + 8191
            require(v >= 0 && v < 16384, "delta outside 2-byte signed vint")
            prev = f.length
            head += ((0x40 | (v >> 8)) & 0xff).toByte
            head += (v & 0xff).toByte
          }
      }
      ebmlElem(ebmlIdBytes(0xA3), head.toArray ++
        fs.foldLeft(Array.emptyByteArray)(_ ++ _))
    }
    val pcm =
      if (audioSamples <= 0) Array.emptyByteArray
      else {
        val b = new Array[Byte](audioSamples * 2)
        var n = 0
        while (n < audioSamples) {
          val s = (((audioId * 40503L + 12289L) * (n + 7L) * (n + 13L))
            % 65536L - 32768L).toInt
          b(2 * n) = (s & 0xff).toByte
          b(2 * n + 1) = ((s >> 8) & 0xff).toByte
          n += 1
        }
        b
      }
    val half = (audioSamples / 2) * 2 // split on a sample boundary
    val mid = (nFrames + 1) / 2
    val cueMid = (cues.length + 1) / 2
    def clusterBlocks(fs: Seq[Array[Byte]], firstIdx: Int,
        audio: Array[Byte], cs: Seq[Array[Byte]]): Array[Byte] = {
      val vb = fs.zipWithIndex.map { case (d, i) => block(1, firstIdx + i, d) }
      val ab = if (audio.isEmpty) Seq.empty
        else Seq(lacedAudioBlock(2, 0, audio))
      val sb = cs.zipWithIndex.map { case (d, i) => block(3, i, d) }
      (vb ++ ab ++ sb).foldLeft(Array.emptyByteArray)(_ ++ _)
    }
    val c1 = ebmlElem(ebmlIdBytes(0x1F43B675L), ebmlUint(0xE7, 0),
      clusterBlocks(frames.take(mid), 0,
        if (pcm.isEmpty) pcm else java.util.Arrays.copyOfRange(pcm, 0, half),
        cues.take(cueMid)))
    val c2 =
      if (nFrames <= mid && pcm.length <= half && cues.length <= cueMid)
        Array.emptyByteArray
      else ebmlElem(ebmlIdBytes(0x1F43B675L), ebmlUint(0xE7, mid * 40),
        clusterBlocks(frames.drop(mid), mid,
          if (pcm.isEmpty) pcm
          else java.util.Arrays.copyOfRange(pcm, half, pcm.length),
          cues.drop(cueMid)))
    val segBody = Array(info, tracksEl, c1, c2)
      .foldLeft(Array.emptyByteArray)(_ ++ _)
    val segment =
      if (unknownSize)
        // Segment with the reserved all-ones 1-byte size: the live mux
        ebmlIdBytes(0x18538067L) ++ Array(0xff.toByte) ++ segBody
      else ebmlElem(ebmlIdBytes(0x18538067L), segBody)
    header ++ segment
  }
}
