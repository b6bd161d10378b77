package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with
  * typed metadata, batch-shaped decode/feature/frame operators via typed
  * `mapPartitions` (the Scala analog of arrow-batched Python UDFs — one
  * iterator pass per partition, no per-row task overhead).
  *
  * Image payloads (PNG/JPEG/GIF/BMP, sniffed by magic bytes) are REALLY
  * decoded via JDK `javax.imageio` — features and resize operate on the
  * decoded pixel plane. Non-image payloads fall back to a clearly-marked
  * deterministic byte-level stub (audio/video codecs aren't in this
  * environment), so the distributed plumbing is exercised for every
  * payload either way.
  */
object Multimodal {

  /** Magic-byte sniff for the formats `javax.imageio` ships decoders
    * for: PNG, JPEG, GIF, BMP. */
  private[operators] def sniffImage(b: Array[Byte]): Boolean =
    (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) ||
      (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b.length >= 2 && b(0) == 'B' && b(1) == 'M')

  private val decodeAccs =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.util.LongAccumulator]

  /** Decode counter of this Spark application: once a spec has asked
    * for it, every payload entering the real image/WAV decode path
    * adds 1. Backs the decode-count specs that pin the "decode exactly
    * once per payload" materialization contract. The decode paths run
    * inside UDFs and mapPartitions with no session in hand, so the tick
    * finds the accumulator by application id and adds to the registered
    * instance directly — a same-JVM (local[n]) affordance, under a lock
    * because LongAccumulator.add is unsynchronized (concurrent decodes
    * lost ticks under local[4]). Until a spec registers it, the tick
    * costs one empty-map check. */
  private[graft] def decodesProbed(s: SparkSession)
      : org.apache.spark.util.LongAccumulator =
    decodeAccs.computeIfAbsent(s.sparkContext.applicationId,
      _ => s.sparkContext.longAccumulator("graft.decodes"))

  private def probeTick(): Unit = if (!decodeAccs.isEmpty) {
    val env = org.apache.spark.SparkEnv.get
    val acc = if (env == null) null else decodeAccs.get(env.conf.getAppId)
    if (acc != null) acc.synchronized(acc.add(1L))
  }

  private def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (!sniffImage(payload)) None
    else {
      probeTick()
      // NonFatal, not just IOException: the JDK GIF/BMP/JPEG readers
      // throw runtime exceptions (AIOOBE, NegativeArraySize, IAE) on
      // malformed headers, and the sniff is only 2-8 magic bytes —
      // arbitrary binary that happens to start with "BM"/"GIF8" must
      // fall back to the stub path, never fail the task
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** BT.601 integer luma plane of a decoded image, row-major — integer
    * arithmetic on lossless-decoded pixels, so deterministic across
    * runs and engines. */
  private[operators] def lumaPlane(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Byte](w * h)
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        out(i) = ((r * 299 + g * 587 + b * 114) / 1000).toByte
        i += 1
        x += 1
      }
      y += 1
    }
    out
  }

  case class MediaRow(doc_id: Long, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, n_bytes: Int, mean_byte: Double,
      byte_entropy: Double, distinct_bytes: Int)
  case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Attach a binary payload + typed metadata to a text/media column —
    * the ingest shape for media tables (payload column stays opaque). */
  def asMedia(docs: DataFrame, idCol: String, contentCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      col(contentCol).cast("binary").as("payload"),
      struct(
        length(col(contentCol).cast("binary")).as("n_bytes"),
        lit("text/plain").as("mime"),
        md5(col(contentCol).cast("binary")).as("content_hash")).as("media_meta"))

  private def byteFeatures(docId: Long, bytes: Array[Byte]): MediaFeatures = {
    val counts = new Array[Long](256)
    bytes.foreach(b => counts(b & 0xff) += 1)
    val n = bytes.length
    val mean = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toLong).sum.toDouble / n
    var entropy = 0.0
    var distinct = 0
    counts.foreach { c =>
      if (c > 0) {
        distinct += 1
        val p = c.toDouble / n
        entropy -= p * math.log(p) / math.log(2)
      }
    }
    MediaFeatures(docId, n, mean, entropy, distinct)
  }

  /** Image payloads DECODE (javax.imageio) and report features over the
    * BT.601 luma plane: n_bytes = pixel count, mean/entropy/distinct
    * over 8-bit luma. Non-image payloads fall back to the STUB path —
    * the same statistics over the raw bytes (a real audio/video build
    * would decode to PCM/frames here; those codecs aren't in this
    * environment). */
  private def decodeFeatures(r: MediaRow): MediaFeatures =
    decodeImage(r.payload) match {
      case Some(img) => byteFeatures(r.doc_id, lumaPlane(img))
      case None => byteFeatures(r.doc_id, r.payload)
    }

  /** Feature extraction: one partition = one batch, client state (here
    * the histogram buffer) amortized across the partition. */
  def extractFeatures(media: DataFrame)(implicit s: SparkSession): Dataset[MediaFeatures] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.map(decodeFeatures))
  }

  case class Resized(doc_id: Long, payload: Array[Byte], n_bytes: Int,
      orig_bytes: Int, factor: Int)

  /** Area-average downscale of a decoded image by `factor`: each output
    * pixel is the integer mean of its factor×factor source block (edge
    * blocks truncate) — pure integer arithmetic on lossless pixels, so
    * the resized image is deterministic; re-encoded as PNG (lossless,
    * so a decode of the output recovers the block means exactly). */
  private[operators] def areaDownscale(img: java.awt.image.BufferedImage,
      factor: Int): java.awt.image.BufferedImage = {
    val w = math.max(1, img.getWidth / factor)
    val h = math.max(1, img.getHeight / factor)
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var oy = 0
    while (oy < h) {
      var ox = 0
      while (ox < w) {
        var rs = 0L; var gs = 0L; var bs = 0L; var cnt = 0
        var y = oy * factor
        val yEnd = math.min(img.getHeight, (oy + 1) * factor)
        while (y < yEnd) {
          var x = ox * factor
          val xEnd = math.min(img.getWidth, (ox + 1) * factor)
          while (x < xEnd) {
            val rgb = img.getRGB(x, y)
            rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff; bs += rgb & 0xff
            cnt += 1
            x += 1
          }
          y += 1
        }
        out.setRGB(ox, oy,
          (((rs / cnt).toInt & 0xff) << 16) | (((gs / cnt).toInt & 0xff) << 8) |
            ((bs / cnt).toInt & 0xff))
        ox += 1
      }
      oy += 1
    }
    out
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Resize: image payloads decode → area-average downscale → PNG
    * re-encode (the real codec path, JDK-only). Non-image payloads use
    * the STUB path — keep every `factor`-th byte (payload shrinks
    * ~1/factor; a real audio build would resample PCM here). Both paths
    * are pure functions of the input; the batch iteration, schema, and
    * partition alignment are shared. */
  def resize(media: DataFrame, factor: Int = 4)
      (implicit s: SparkSession): Dataset[Resized] = {
    import s.implicits._
    require(factor >= 1, "resize factor must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.map { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            val out = encodePng(areaDownscale(img, factor))
            Resized(r.doc_id, out, out.length, r.payload.length, factor)
          case None =>
            val out = new Array[Byte]((r.payload.length + factor - 1) / factor)
            var i = 0
            while (i < out.length) { out(i) = r.payload(i * factor); i += 1 }
            Resized(r.doc_id, out, out.length, r.payload.length, factor)
        }
      })
  }

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

  /** All frames of a multi-image GIF via the JDK reader (the one
    * animated format `javax.imageio` decodes natively), COMPOSITED the
    * way a GIF player renders them: each stored raster draws at its
    * (imageLeftPosition, imageTopPosition) offset onto a canvas of the
    * logical screen size, and its disposal method decides what the next
    * frame draws over (none/doNotDispose keep the canvas,
    * restoreToBackgroundColor clears the frame rect to black — the
    * deterministic stand-in for the viewer-dependent background,
    * restoreToPrevious rolls the canvas back). Real-world animated GIFs
    * store DELTA frames — only the changed rect — so returning raw
    * rasters would yield wrong and differently-sized planes; the
    * composite restores full logical-screen frames, all equally sized.
    * None for non-GIF or malformed payloads (callers fall back to the
    * byte-stub frame model). */
  private[operators] def decodeGifFrames(
      payload: Array[Byte]): Option[Seq[java.awt.image.BufferedImage]] =
    if (!(payload.length >= 6 && payload(0) == 'G' && payload(1) == 'I' &&
        payload(2) == 'F' && payload(3) == '8')) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, false, false)
          val n = reader.getNumImages(true)
          if (n == 0) None
          else {
            def attr(root: org.w3c.dom.Element, tag: String,
                a: String): Option[String] = {
              val nodes = root.getElementsByTagName(tag)
              if (nodes.getLength == 0) None
              else Option(nodes.item(0).asInstanceOf[org.w3c.dom.Element]
                .getAttribute(a)).filter(_.nonEmpty)
            }
            val rasters = (0 until n).map(reader.read(_))
            val metas = (0 until n).map { i =>
              val t = reader.getImageMetadata(i)
                .getAsTree("javax_imageio_gif_image_1.0")
                .asInstanceOf[org.w3c.dom.Element]
              (attr(t, "ImageDescriptor", "imageLeftPosition")
                 .fold(0)(_.toInt),
               attr(t, "ImageDescriptor", "imageTopPosition")
                 .fold(0)(_.toInt),
               attr(t, "GraphicControlExtension", "disposalMethod")
                 .getOrElse("none"))
            }
            // logical screen from stream metadata; max frame extent as
            // the fallback when the descriptor is absent
            val screen = for {
              st <- Option(reader.getStreamMetadata)
              tree = st.getAsTree("javax_imageio_gif_stream_1.0")
                .asInstanceOf[org.w3c.dom.Element]
              w <- attr(tree, "LogicalScreenDescriptor", "logicalScreenWidth")
              h <- attr(tree, "LogicalScreenDescriptor", "logicalScreenHeight")
            } yield (w.toInt, h.toInt)
            val w = screen.fold(metas.zip(rasters)
              .map { case ((x, _, _), r) => x + r.getWidth }.max)(_._1)
            val h = screen.fold(metas.zip(rasters)
              .map { case ((_, y, _), r) => y + r.getHeight }.max)(_._2)
            def snap(src: java.awt.image.BufferedImage) = {
              val c = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val gg = c.createGraphics()
              gg.drawImage(src, 0, 0, null); gg.dispose(); c
            }
            val canvas = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = canvas.createGraphics()
            val out = Seq.newBuilder[java.awt.image.BufferedImage]
            (0 until n).foreach { i =>
              val (x, y, disposal) = metas(i)
              val before =
                if (disposal == "restoreToPrevious") snap(canvas) else null
              g.drawImage(rasters(i), x, y, null)
              out += snap(canvas)
              disposal match {
                case "restoreToBackgroundColor" =>
                  g.setColor(java.awt.Color.BLACK)
                  g.fillRect(x, y, rasters(i).getWidth, rasters(i).getHeight)
                case "restoreToPrevious" =>
                  g.drawImage(before, 0, 0, null)
                case _ => ()
              }
            }
            g.dispose()
            Some(out.result())
          }
        } finally { reader.dispose(); iis.close() }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Frame sampling, emitting every `stride`-th frame. GIF payloads get
    * REAL frames: each one decodes via the JDK reader and emits its
    * BT.601 luma plane (the analysis-ready representation the feature
    * operators consume). Everything else falls back to the byte-stub
    * frame model — `frameBytes`-sized slices (a real video build would
    * put its codec behind the same sniff; those aren't in the JDK).
    * Both paths explode rows in one partition pass, so output
    * partitioning stays aligned with input. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 16, stride: Int = 4)
      (implicit s: SparkSession): Dataset[Frame] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeGifFrames(r.payload) match {
          case Some(frames) =>
            (0 until frames.length by stride).iterator.map { i =>
              Frame(r.doc_id, i, lumaPlane(frames(i)))
            }
          case None =>
            val nFrames = r.payload.length / frameBytes
            (0 until nFrames by stride).iterator.map { i =>
              Frame(r.doc_id, i,
                java.util.Arrays.copyOfRange(r.payload, i * frameBytes, (i + 1) * frameBytes))
            }
        }
      })
  }

  case class WavPcm(sampleRate: Int, channels: Int, samples: Array[Short])

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)
  // ISO-BMFF (MP4) boxes are big-endian, unlike RIFF
  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o).toLong << 32) | (be32(b, o + 4).toLong & 0xffffffffL)

  /** REAL RIFF/WAVE PCM16 decode — a full chunk-walking parser in plain
    * JVM code (WAV needs no codec library: the container is a chunk
    * list and PCM16 is the samples verbatim, little-endian). Returns
    * None for non-WAV payloads, non-PCM format tags, or non-16-bit
    * streams; tolerates extra chunks (LIST, fact, …) and odd-sized
    * chunk padding per the RIFF spec. */
  private[operators] def decodeWav(payload: Array[Byte]): Option[WavPcm] =
    if (payload.length < 44 || payload(0) != 'R' || payload(1) != 'I' ||
        payload(2) != 'F' || payload(3) != 'F' || payload(8) != 'W' ||
        payload(9) != 'A' || payload(10) != 'V' || payload(11) != 'E') None
    else try {
      probeTick()
      var pos = 12
      var fmtTag = -1; var channels = 0; var rate = 0; var bits = 0
      var samples: Array[Short] = null
      while (pos + 8 <= payload.length) {
        val id = new String(payload, pos, 4, "US-ASCII")
        val sz = le32(payload, pos + 4)
        // compare in Long: a hostile 2 GB-scale chunk size would wrap
        // `pos + 8 + sz` negative and sail past an Int guard
        if (sz < 0 || pos.toLong + 8L + sz > payload.length) return None
        if (id == "fmt " && sz >= 16) {
          fmtTag = le16(payload, pos + 8)
          channels = le16(payload, pos + 10)
          rate = le32(payload, pos + 12)
          bits = le16(payload, pos + 22)
        } else if (id == "data" && fmtTag == 1 && bits == 16 && channels >= 1) {
          val n = sz / 2
          samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = le16(payload, pos + 8 + 2 * i).toShort
            i += 1
          }
        }
        pos += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      if (samples == null || rate <= 0) None
      else Some(WavPcm(rate, channels, samples))
    } catch { case scala.util.control.NonFatal(_) => None }

  case class AudioFeatures(doc_id: Long, decoded: Boolean, sample_rate: Int,
      n_samples: Long, duration_ms: Long, rms: Double, peak: Int,
      zero_crossings: Long)

  private def pcmStats(docId: Long, decoded: Boolean, rate: Int,
      n: Int, sample: Int => Int): AudioFeatures = {
    var ss = 0L; var peak = 0; var zc = 0L
    var prev = 0
    var i = 0
    while (i < n) {
      val v = sample(i)
      ss += v.toLong * v
      val a = math.abs(v)
      if (a > peak) peak = a
      if (i > 0 && ((prev < 0) != (v < 0))) zc += 1
      prev = v
      i += 1
    }
    val rms =
      if (n == 0) 0.0
      else BigDecimal(math.sqrt(ss.toDouble / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    AudioFeatures(docId, decoded, rate, n.toLong,
      if (rate == 0) 0L else n.toLong * 1000L / rate, rms, peak, zc)
  }

  /** Audio feature extraction: WAV payloads REALLY decode (RIFF/PCM16
    * parser above) and report duration, RMS, peak and zero-crossing
    * rate over the sample stream; everything else falls back to the
    * STUB path — bytes interpreted as centered 8-bit PCM at 8 kHz (a
    * real build would put compressed-audio codecs behind the same
    * sniff; none ship with the JDK). Integer sums + one final sqrt, so
    * results are deterministic and SQL-replayable. */
  def audioFeatures(media: DataFrame)(implicit s: SparkSession): Dataset[AudioFeatures] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.map { r =>
        decodeWav(r.payload) match {
          case Some(w) => // accessor form: no widened copy of the stream
            pcmStats(r.doc_id, decoded = true, w.sampleRate,
              w.samples.length, i => w.samples(i).toInt)
          case None =>
            pcmStats(r.doc_id, decoded = false, 8000,
              r.payload.length, i => (r.payload(i) & 0xff) - 128)
        }
      })
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
    * [[AudioLandmark]] catches. */
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
    * [[spectralFrameCodes]] analysis frequencies, with amplitudes that
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

  case class FrameCode(doc_id: Long, frame_idx: Int, code: Int)

  /** AUDIO fingerprint — the audio tier of the near-dup ladder: per
    * frame of `frame` samples (hop = frame/2), a 13-bit code built
    * from the frame's integer autocorrelations R(L) = Σ s[i]·s[i+L]
    * at lags 1,2,4,…,64 — bit j = [R(2^j) > 0], bit 7+j =
    * [R(2^j) > R(2^(j+1))]. Everything is Long integer arithmetic, so
    * (a) a SQL oracle regenerates the synthetic stream and replays the
    * codes EXACTLY (no float fold pinning needed — integer sums are
    * order-free), and (b) the code is invariant under positive
    * amplitude scaling (R scales by c² > 0), the property that makes
    * it a fingerprint rather than a checksum: the same recording at a
    * different level keeps its codes. Undecodable payloads emit no
    * frames. */
  /** The per-payload fingerprint kernel: 13-bit autocorrelation code
    * per frame (see [[audioFingerprint]] for the bit layout). Shared by
    * the frame-code and landmark operators so both compute codes in
    * ONE pass over the decoded samples with no shuffle. */
  private def wavFrameCodes(sm: Array[Short], frame: Int, hop: Int): Array[Int] = {
    val lags = Array(1, 2, 4, 8, 16, 32, 64)
    val nf = if (sm.length < frame) 0 else (sm.length - frame) / hop + 1
    Array.tabulate(nf) { f =>
      val off = f * hop
      val R = lags.map { l =>
        var acc = 0L
        var i = 0
        while (i + l < frame) {
          acc += sm(off + i).toLong * sm(off + i + l)
          i += 1
        }
        acc
      }
      var code = 0
      var j = 0
      while (j < 7) { if (R(j) > 0) code |= 1 << j; j += 1 }
      j = 0
      while (j < 6) { if (R(j) > R(j + 1)) code |= 1 << (7 + j); j += 1 }
      code
    }
  }

  /** Canonicalize decoded PCM for fingerprinting: DOWNMIX multi-channel
    * to mono (per-frame channel mean, truncated toward zero — exact
    * recovery when channels are equal, the stereo-mux-of-a-mono-master
    * re-upload), then integer-DECIMATE to `canonRate` when the source
    * rate is an exact multiple — the resample-invariant leg: a
    * re-upload muxed at 16/24/32 kHz from the same 8 kHz master
    * (zero-order-hold or any resampler that preserves the on-grid
    * samples) decimates back to the identical sample stream, so
    * fingerprints and landmarks match across rates AND channel
    * layouts. Non-multiple rates pass through unchanged (a fractional
    * resampler interpolates new sample values; catching those is the
    * spectral leg's job — [[spectralFrameCodes]] / the m106 gate).
    * canonRate <= 0 disables the rate leg (the downmix always runs —
    * an interleaved fingerprint is never the right comparison). */
  private[operators] def monoMix(w: WavPcm): Array[Short] =
    if (w.channels <= 1) w.samples
    else {
      val ch = w.channels
      Array.tabulate(w.samples.length / ch) { i =>
        var acc = 0; var c = 0
        while (c < ch) { acc += w.samples(i * ch + c); c += 1 }
        (acc / ch).toShort
      }
    }

  private def canonPcm(w: WavPcm, canonRate: Int): Array[Short] = {
    val mono = monoMix(w)
    if (canonRate <= 0 || w.sampleRate <= canonRate ||
        w.sampleRate % canonRate != 0) mono
    else {
      val f = w.sampleRate / canonRate
      Array.tabulate(mono.length / f)(i => mono(i * f))
    }
  }

  /** SPECTRAL frame codes — the rate-free audio fingerprint leg that
    * catches FRACTIONALLY-resampled re-uploads (44.1 kHz → 8 kHz, the
    * most common transcode), which [[canonPcm]]'s integer decimation
    * cannot canonicalize because the interpolated stream shares no
    * sample values with its master. Everything is anchored in
    * ABSOLUTE time and frequency, so the analysis is identical
    * whatever the container rate:
    *  - frames are 64 ms of signal (`rate * 0.064` samples — sample
    *    count varies, duration does not), starting every `hopMs`
    *    (default 64 = non-overlapping; hop < frame overlaps frames,
    *    halving the trim-alignment granularity of the landmark tier
    *    at proportional extra frame cost — the m114 knob);
    *  - 17 analysis frequencies log-spaced over 300-3000 Hz (below
    *    every Nyquist down to 8 kHz), each snapped to the 1/64ms =
    *    15.625 Hz grid — exactly a DFT bin frequency at EVERY rate,
    *    so leakage behaves identically across rates;
    *  - per frame, a Goertzel recursion measures the energy at each
    *    center, normalized by squared frame length (the DFT magnitude
    *    scales with sample count; normalizing makes energies
    *    rate-comparable, though only SIGNS are used);
    *  - bit b of the 16-bit frame code = [E(b) > E(b+1)] — adjacent
    *    band-energy ordering, amplitude-scale invariant and stable
    *    wherever adjacent band energies are not near-equal.
    * A resampler that preserves spectral content below 3 kHz (every
    * real one) yields the same code sequence as the master. StrictMath
    * throughout — pinned goldens depend on bit-exact trig. */
  private val SpectralBands = 17
  /** The 17 analysis centers, each snapped to the 1/64 ms = 15.625 Hz
    * grid — exactly a DFT bin frequency at every rate. */
  private lazy val spectralCenters: Array[Double] = {
    val T = 0.064
    Array.tabulate(SpectralBands)(b =>
      math.max(1L, math.round(300.0 * StrictMath.pow(10.0, b / 16.0) * T))
        .toDouble / T)
  }

  /** One 16-bit spectral code for the 64 ms frame starting at sample
    * `off`: Goertzel band energies at [[spectralCenters]], bit b =
    * [E(b) > E(b+1)]. Shared by the grid tier ([[spectralFrameCodes]])
    * and the onset-anchored tier ([[spectralOnsetLandmarks]]) so both
    * derive codes from the identical kernel. */
  private def spectralCodeAt(mono: Array[Short], rate: Int, off: Int,
      frameN: Int): Int = {
    val bands = SpectralBands
    val energies = new Array[Double](bands)
    var b = 0
    while (b < bands) {
      val wf = 2.0 * StrictMath.PI * spectralCenters(b) / rate
      val cw = StrictMath.cos(wf)
      val sw = StrictMath.sin(wf)
      val coeff = 2.0 * cw
      var s1 = 0.0
      var s2 = 0.0
      var n = 0
      while (n < frameN) {
        val s0 = mono(off + n) + coeff * s1 - s2
        s2 = s1; s1 = s0
        n += 1
      }
      val re = s1 - s2 * cw
      val im = s2 * sw
      energies(b) = (re * re + im * im) / (frameN.toDouble * frameN)
      b += 1
    }
    var code = 0
    var i = 0
    while (i < bands - 1) {
      if (energies(i) > energies(i + 1)) code |= 1 << i
      i += 1
    }
    code
  }

  private[operators] def spectralFrameCodes(w: WavPcm,
      hopMs: Int = 64): Array[Int] = {
    val mono = monoMix(w)
    val rate = w.sampleRate
    if (rate <= 0 || hopMs <= 0) return Array.empty
    val frameN = (rate * 64L / 1000L).toInt
    if (frameN <= 0 || mono.length < frameN)
      return Array.empty
    // Frame t starts at ABSOLUTE time t*hopMs ms: the offset is derived
    // from t each iteration (floor(t*hopMs*rate/1000)), NOT by
    // accumulating a truncated per-hop sample count — at 44.1 kHz the
    // 64 ms hop is 2822.4 samples, and off = t*2822 drifts ~0.4
    // samples/frame, misaligning long audio against an 8 kHz master by
    // half a frame after a few minutes (round-10 ADVICE). Per-frame
    // derivation bounds grid error below ONE sample for any duration.
    val hopNum = rate.toLong * hopMs
    val nFrames = (((mono.length - frameN).toLong * 1000L) / hopNum + 1L).toInt
    val out = new Array[Int](nFrames)
    var t = 0
    while (t < nFrames) {
      val off = (t.toLong * hopNum / 1000L).toInt
      out(t) = spectralCodeAt(mono, rate, off, frameN)
      t += 1
    }
    out
  }

  def audioFingerprint(media: DataFrame, frame: Int = 128, hop: Int = 64,
      canonRate: Int = 8000)(
      implicit s: SparkSession): Dataset[FrameCode] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) =>
            wavFrameCodes(canonPcm(w, canonRate), frame, hop)
              .iterator.zipWithIndex
              .map { case (code, f) => FrameCode(r.doc_id, f, code) }
          case None => Iterator.empty
        }
      })
  }

  case class DocLandmark(doc_id: Long, lm: Long)

  /** Per-document DISTINCT landmark set, computed in the decode pass:
    * a landmark packs (code, code `gap` frames later) with NO frame
    * index, so a hop-aligned time shift leaves every interior landmark
    * identical. One mapPartitions, no shuffle — a doc's codes are a
    * local array here, where the window-function formulation would
    * shuffle all codes by doc_id just to see neighbors. Distinct
    * per doc (one posting-list entry per doc per landmark). */
  def audioLandmarks(media: DataFrame, gap: Int = 1, frame: Int = 128,
      hop: Int = 64, canonRate: Int = 8000)(
      implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) =>
            val codes = wavFrameCodes(canonPcm(w, canonRate), frame, hop)
            val lms = scala.collection.mutable.LinkedHashSet.empty[Long]
            var i = 0
            while (i + gap < codes.length) {
              lms += codes(i).toLong * 8192L + codes(i + gap)
              i += 1
            }
            lms.iterator.map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** Per-document spectral frame codes ([[spectralFrameCodes]]) as a
    * table — the rate-free sibling of [[audioFingerprint]]. One decode
    * pass, no shuffle; undecodable payloads emit nothing. */
  def audioSpectralCodes(media: DataFrame, hopMs: Int = 64)(
      implicit s: SparkSession): Dataset[FrameCode] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) =>
            spectralFrameCodes(w, hopMs).iterator.zipWithIndex
              .map { case (code, f) => FrameCode(r.doc_id, f, code) }
          case None => Iterator.empty
        }
      })
  }

  /** Distinct positionless (code, code `gap` frames later) landmarks
    * over the SPECTRAL codes — the m80 trick at the spectral seam:
    * a frame-aligned trim shifts every frame index but leaves interior
    * code successions intact, and the spectral codes are already
    * rate-free, so this tier catches the TRIM + FRACTIONAL-RESAMPLE
    * compound that evades both [[AudioLandmark]] (no common
    * samples) and [[AudioSpectralCode]] (shifted alignment). 16-bit
    * codes pack as code*65536 + next. */
  def audioSpectralLandmarks(media: DataFrame, gap: Int = 1,
      hopMs: Int = 64)(
      implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) =>
            val codes = spectralFrameCodes(w, hopMs)
            val lms = scala.collection.mutable.LinkedHashSet.empty[Long]
            var i = 0
            while (i + gap < codes.length) {
              lms += codes(i).toLong * 65536L + codes(i + gap)
              i += 1
            }
            lms.iterator.map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** Sample indices of energy ONSETS: the first sample at or above
    * `threshold` (absolute 16-bit amplitude) after at least
    * `minSilenceMs` of continuous sub-threshold signal. Both the
    * silence run and the crossing are properties of the CONTINUOUS
    * waveform, so two muxes of the same signal at different rates
    * detect the same onset within one sample period of the lower rate
    * — and, critically, an ARBITRARY-offset trim shifts every onset by
    * exactly the trim, leaving onset-RELATIVE analysis unchanged. */
  private[operators] def energyOnsets(mono: Array[Short], rate: Int,
      threshold: Int = 1024, minSilenceMs: Int = 8): Array[Int] = {
    val minSil = math.max(1, (rate.toLong * minSilenceMs / 1000L).toInt)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var quiet = 0
    var i = 0
    while (i < mono.length) {
      if (math.abs(mono(i).toInt) >= threshold) {
        if (quiet >= minSil) out += i
        quiet = 0
      } else quiet += 1
      i += 1
    }
    out.toArray
  }

  /** ROLLING-RMS energy onsets — the noisy-floor form of
    * [[energyOnsets]] (closes the round-11 "onset detection needs
    * sub-threshold spans" scope line): an onset is the first sample
    * whose amplitude reaches `ratio` x the RMS of the trailing
    * `rmsMs`-millisecond window, with a `minGapMs` refractory period
    * after each firing. Every quantity is a property of the
    * CONTINUOUS waveform measured over millisecond (not sample)
    * windows, so two muxes at different rates fire within one sample
    * period of each other and a trim at ANY offset shifts every onset
    * by exactly the trim — the family invariants. Unlike the
    * threshold forms, no sub-threshold run is required: a corpus with
    * a dense noise floor (hum, room tone, tape hiss) still anchors at
    * its energy bursts, because the floor raises the trailing RMS and
    * the burst still clears `ratio` x it. Degrades to the silence
    * case: below `minAbs` amplitude the trailing RMS is floored at
    * `minAbs`, so silence->burst edges fire exactly as before.
    * Detection starts once the trailing window is full (the first
    * `rmsMs` of audio can't fire — deterministic in absolute time, so
    * master and trim agree on every later onset). */
  private[operators] def energyOnsetsRolling(mono: Array[Short], rate: Int,
      ratio: Double = 3.0, rmsMs: Int = 24, minGapMs: Int = 48,
      minAbs: Int = 64): Array[Int] = {
    val w = math.max(1, (rate.toLong * rmsMs / 1000L).toInt)
    val gap = math.max(1, (rate.toLong * minGapMs / 1000L).toInt)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var sumSq = 0L
    var last = -gap
    var i = 0
    while (i < mono.length) {
      if (i >= w) {
        // trailing window is (i-w, i-1] — excludes the current sample,
        // so a burst tests against the floor BEFORE it, not itself
        val rmsSq = sumSq.toDouble / w
        val floorSq = minAbs.toDouble * minAbs
        val thrSq = ratio * ratio * math.max(rmsSq, floorSq)
        val x = mono(i).toDouble
        if (x * x >= thrSq && i - last >= gap) { out += i; last = i }
      }
      val v = mono(i).toLong
      sumSq += v * v
      if (i >= w) {
        val u = mono(i - w).toLong
        sumSq -= u * u
      }
      i += 1
    }
    out.toArray
  }

  /** ONSET-ANCHORED spectral landmarks — the arbitrary-offset trim
    * tier (closes round-10 gap #1): the grid tiers anchor frames at
    * fixed multiples of the hop from SIGNAL START, so a trim at a
    * non-hop-multiple offset (50 ms, say) shifts every analysis frame
    * off the master's grid and [[AudioSpectralLandmark]] — even
    * at the m114 hop=32 setting — provably misses the re-upload. Here
    * frames are anchored at energy ONSETS instead ([[energyOnsets]]):
    * an onset travels with the content through any trim AND any
    * resample, so the `codesPerOnset` frames of 64 ms laid out after
    * each onset cover identical absolute-time spans in master and
    * re-upload, whatever the offset.
    *
    * ONE landmark per onset, packing ALL `codesPerOnset` frame codes
    * (16 bits each, slot 0 highest) into a single Long — NOT one
    * (slot, code) landmark per frame: the 32k-doc ScaleCheck sweep
    * showed single-code landmarks concentrate on degenerate near-tie
    * codes (0x5555/0xAAAA alternating-order patterns reach df > 1000),
    * so the skew cap was eating planted recall at corpus scale, while
    * the packed joint code keeps df at the handful a real duplicate
    * family produces. Onsets too close to the end of the audio to fill
    * every slot emit nothing (deterministic in absolute time — the
    * min-based scoring absorbs the trailing difference). Distinct per
    * doc, one mapPartitions pass, no shuffle — the family shape.
    * Silence-free audio yields no onsets and drops out of this tier
    * (the grid tiers still cover it). */
  def spectralOnsetLandmarks(media: DataFrame, codesPerOnset: Int = 2,
      threshold: Int = 1024, minSilenceMs: Int = 8,
      thresholdFrac: Double = 0.0)(
      implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(codesPerOnset >= 1 && codesPerOnset <= 4,
      "codesPerOnset must be in 1..4 (16-bit codes pack into one Long)")
    require(thresholdFrac >= 0.0 && thresholdFrac < 1.0,
      "thresholdFrac must be in [0, 1)")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) if w.sampleRate > 0 =>
            val mono = monoMix(w)
            val rate = w.sampleRate
            val frameN = (rate * 64L / 1000L).toInt
            if (frameN <= 0) Iterator.empty
            else {
              // thresholdFrac > 0 = ADAPTIVE onset threshold: a
              // fraction of the payload's own peak amplitude instead
              // of the absolute `threshold`. A volume-normalized
              // (re-leveled) re-upload scales every sample by the same
              // factor, so frac*peak crosses at (near) the same
              // CONTINUOUS time in master and re-upload — absolute
              // thresholds find no onsets at all once the peak drops
              // below them, the failure mode the m117 gate pins.
              val thr =
                if (thresholdFrac <= 0.0) threshold
                else {
                  var peak = 0
                  var i = 0
                  while (i < mono.length) {
                    val a = math.abs(mono(i).toInt)
                    if (a > peak) peak = a
                    i += 1
                  }
                  math.max(1, math.round(peak * thresholdFrac).toInt)
                }
              packOnsetLandmarks(mono, rate, frameN,
                energyOnsets(mono, rate, thr, minSilenceMs), codesPerOnset)
                .map(DocLandmark(r.doc_id, _))
            }
          case _ => Iterator.empty
        }
      })
  }

  /** Shared packing kernel for the onset-landmark family: ONE packed
    * joint-code landmark per onset — `codesPerOnset` 64 ms frame codes
    * (slot 0 highest) in a single Long; onsets too near the end to
    * fill every slot emit nothing; distinct per doc. Both onset
    * detectors ([[energyOnsets]] threshold forms and
    * [[energyOnsetsRolling]]) MUST land here so their landmark values
    * are mutually comparable and the packing can never drift. */
  private def packOnsetLandmarks(mono: Array[Short], rate: Int,
      frameN: Int, onsets: Array[Int],
      codesPerOnset: Int): Iterator[Long] = {
    val lms = scala.collection.mutable.LinkedHashSet.empty[Long]
    onsets.foreach { o =>
      var lm = 0L
      var k = 0
      var full = true
      while (k < codesPerOnset && full) {
        // frame slot k starts k*64 ms after the onset —
        // absolute-time-derived like the drift-free grid
        val off = o + (k.toLong * 64L * rate / 1000L).toInt
        if (off + frameN <= mono.length)
          lm = lm * 65536L + spectralCodeAt(mono, rate, off, frameN)
        else full = false
        k += 1
      }
      if (full) lms += lm
    }
    lms.iterator
  }

  /** [[spectralOnsetLandmarks]] with the ROLLING-RMS onset detector
    * ([[energyOnsetsRolling]]) — the NOISY-FLOOR member of the onset
    * tier: audio whose gaps carry a hum / room tone / hiss floor has
    * no sub-threshold span for the absolute OR peak-relative
    * thresholds to anchor on (both find ZERO onsets — a structural
    * miss), while a burst still clears `ratio` x the trailing-RMS
    * floor at the same CONTINUOUS time in master and re-upload,
    * whatever the trim offset, mux rate, or gain. Same packed
    * joint-code landmark values as the threshold form (shared
    * kernel), same family shape: distinct per doc, one mapPartitions
    * pass, no shuffle. */
  def spectralOnsetLandmarksRolling(media: DataFrame,
      codesPerOnset: Int, ratio: Double, rmsMs: Int,
      minGapMs: Int, minAbs: Int)(
      implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(codesPerOnset >= 1 && codesPerOnset <= 4,
      "codesPerOnset must be in 1..4 (16-bit codes pack into one Long)")
    require(ratio > 1.0, "ratio must be > 1 (fire above the floor)")
    require(rmsMs >= 1 && minGapMs >= 1, "rmsMs and minGapMs must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) if w.sampleRate > 0 =>
            val mono = monoMix(w)
            val rate = w.sampleRate
            val frameN = (rate * 64L / 1000L).toInt
            if (frameN <= 0) Iterator.empty
            else packOnsetLandmarks(mono, rate, frameN,
              energyOnsetsRolling(mono, rate, ratio, rmsMs, minGapMs,
                minAbs), codesPerOnset)
              .map(DocLandmark(r.doc_id, _))
          case _ => Iterator.empty
        }
      })
  }

  /** Version stamp for the ONSET landmark family
    * ([[spectralOnsetLandmarks]] — onset detection, frame layout,
    * joint-code packing): namespaced (onset = 4000 + v; the family
    * convention) so cross-family screens fail fast at every version
    * pair; 4001 = v1. Parameter choices (codesPerOnset, thresholds)
    * are NOT covered — screen with the parameters the index was built
    * with. The DETECTOR is covered: the rolling-RMS detector yields a
    * different landmark SET than the threshold detectors on the same
    * audio (values are comparable, anchors are not), so a
    * cross-detector screen would pass an un-namespaced gate and then
    * match nothing — the silent-miss mode the stamp exists for. 4001 =
    * threshold family (absolute and peak-relative), 4002 = rolling-RMS
    * ([[OnsetRollingFpVersion]]). */
  val OnsetFpVersion: Int = 4001

  /** [[OnsetFpVersion]]'s rolling-RMS sibling: stamped on indexes
    * built with `rolling = true` so a threshold-built screen against a
    * rolling-built index (or vice versa) fails fast with a rebuild
    * instruction instead of silently matching nothing. */
  val OnsetRollingFpVersion: Int = 4002

  /** ONSET-INTERVAL-RATIO codes — the SPEED-CHANGE / TIME-STRETCH
    * invariant kernel (closes the last audio scope line): a playback
    * speed-up scales every onset's time by 1/s and a pitch-preserving
    * time-stretch scales it by the stretch factor, so the RATIO of
    * successive inter-onset intervals is invariant under BOTH — and
    * under trim (later windows align), resample (intervals are sample
    * counts at ONE rate, so ratios are unit-free), and re-level (with
    * a level-tolerant detector). Every window of `nRatios + 2`
    * consecutive onsets packs its `nRatios` quantized log-ratios
    * (`round(ln(i_{k+1}/i_k) / qStep)`, clamped to a signed 6-bit
    * cell) into one Long, slot 0 highest; windows with any ratio
    * outside the cell range emit nothing; distinct per doc. A ratio
    * sitting ON a cell boundary can flip between renderings —
    * match_frac scoring absorbs isolated flips, and the posting-list
    * consumer never needs every window to agree. NOTE these codes
    * carry TIMING structure only (no spectral content, which pitch
    * scaling destroys) — entropy comes from the onset schedule, so
    * metronomic audio (equal intervals) hashes to one landmark and
    * must fall back to the spectral tiers. */
  private[operators] def intervalRatioCodes(onsets: Array[Int],
      nRatios: Int, qStep: Double): Iterator[Long] = {
    val lms = scala.collection.mutable.LinkedHashSet.empty[Long]
    val nInt = onsets.length - 1 // intervals
    var j = 0
    while (j + nRatios + 1 <= nInt) { // window = nRatios+1 intervals
      var lm = 0L
      var ok = true
      var k = 0
      while (k < nRatios && ok) {
        val a = (onsets(j + k + 1) - onsets(j + k)).toDouble
        val b = (onsets(j + k + 2) - onsets(j + k + 1)).toDouble
        if (a <= 0.0 || b <= 0.0) ok = false
        else {
          val q = math.round(StrictMath.log(b / a) / qStep) + 32L
          if (q < 0L || q > 63L) ok = false
          else lm = lm * 64L + q
        }
        k += 1
      }
      if (ok) lms += lm
      j += 1
    }
    lms.iterator
  }

  /** Interval-ratio landmarks per document — the Dataset form of
    * [[intervalRatioCodes]] over the [[energyOnsets]] detector: decode
    * once, detect onsets, emit one row per distinct packed ratio
    * window. One mapPartitions pass, no shuffle; payloads yielding
    * fewer than `nRatios + 2` onsets (undecodable, onset-free, or
    * just short) emit nothing — the family contract (grid tiers cover
    * onset-free corpora; nothing in the TIMING of metronomic audio
    * distinguishes docs, see the kernel scaladoc). */
  def onsetIntervalLandmarks(media: DataFrame, nRatios: Int = 5,
      qStep: Double = 0.2, threshold: Int = 1024, minSilenceMs: Int = 8)(
      implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(nRatios >= 1 && nRatios <= 10,
      "nRatios must be in 1..10 (6-bit cells pack into one Long)")
    require(qStep > 0.0, "qStep must be > 0")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) if w.sampleRate > 0 =>
            intervalRatioCodes(
              energyOnsets(monoMix(w), w.sampleRate, threshold,
                minSilenceMs), nRatios, qStep)
              .map(DocLandmark(r.doc_id, _))
          case _ => Iterator.empty
        }
      })
  }

  /** Version stamp for the INTERVAL-RATIO landmark family
    * ([[onsetIntervalLandmarks]] — onset detection, ratio
    * quantization, window packing): namespaced (interval = 5000 + v;
    * the family convention) so cross-family screens fail fast at
    * every version pair; 5001 = v1. Parameter choices (nRatios,
    * qStep, thresholds) are NOT covered — screen with the parameters
    * the index was built with. */
  val IntervalFpVersion: Int = 5001

  /** Semitone-spaced constant-Q analysis bank for the PITCH-SHIFT
    * tier: 52 centers at 200 * 2^(k/12) Hz (k = 0..51, topping out at
    * ~3805 Hz — below every Nyquist down to 8 kHz, and several
    * semitones ABOVE the 300-3000 Hz content band the audio tiers
    * analyze, so a +1-semitone shift keeps the topmost content and
    * its smoothing neighborhood inside the bank). Musical pitch
    * shifts are integer semitones, so the dominant shift class
    * translates the bank EXACTLY by k steps. */
  private val ChromaBands = 52
  private lazy val chromaCenters: Array[Double] =
    Array.tabulate(ChromaBands)(k =>
      200.0 * StrictMath.pow(2.0, k / 12.0))

  /** The bank at `div` divisions per octave — the SUB-SEMITONE
    * generalization (m126): same 200 Hz bottom and same ~3805 Hz top
    * as the semitone bank ((51*div)/12 + 1 centers, exactly the
    * semitone layout at div = 12), with every musical distance in the
    * code (smoothing radius, comparison stride, window span) scaled
    * by q = div/12 so the code geometry is identical in CENTS at any
    * density. A pitch factor of 2^(k/div) translates this bank by
    * exactly k steps: div = 24 makes QUARTER-tone shifts exact —
    * the class the semitone bank splits across two bands. */
  private def chromaCentersAt(div: Int): Array[Double] = {
    val bands = 51 * div / 12 + 1
    Array.tabulate(bands)(k =>
      200.0 * StrictMath.pow(2.0, k.toDouble / div))
  }

  /** Shift-invariant CONSTANT-Q spectral code for the frame starting
    * at sample `off` — the pitch-class kernel (the m124 tier): band
    * k's energy is a Goertzel at [[chromaCenters]](k) over `cyc`
    * CYCLES of that center (window T_k = cyc/f_k seconds — constant
    * Q), so the analysis bandwidth is a constant FRACTION of the
    * center and the whole energy vector translates by exactly one
    * band per semitone of pitch shift: under a speed change s, band
    * k+1's window T_k/s covers the identical master-time span band k's
    * did, and under pitch-shift-only the content is stationary. The
    * code anchors at the LOWEST band whose energy reaches half the
    * maximum (the first strong partial — a pure function of the
    * energy PATTERN, so it translates with the shift; anchoring at
    * the ARGMAX instead would sit the window at the top of the
    * content, where a shift pushes it off the bank) and takes 15
    * upward adjacent-band orderings relative to it — positions never
    * enter the code, so an integer-semitone shift leaves it
    * bit-identical as long as the window stays in-bank (enforced: a
    * frame whose window would cross the top returns -1, and its
    * shifted twin does too except exactly at the one boundary band —
    * match_frac absorbs that). Amplitude-scale invariant (orderings),
    * rate-free (windows in cycles, energies normalized by squared
    * sample count). Returns -1 for a frame that is silent or runs off
    * the payload end. Non-integer-semitone shifts split energy
    * between adjacent bands and degrade gracefully through
    * match_frac rather than structurally. */
  /** The anchor-band position of [[chromaCodeAt]] alone — diagnostic
    * hook for phase-robustness analysis of true (envelope-preserving)
    * pitch shifts. */
  private[operators] def chromaAnchorAt(mono: Array[Short], rate: Int,
      off: Int, cyc: Int, div: Int = 12): Int =
    chromaCodeAt(mono, rate, off, cyc, div, anchorOnly = true)

  private[operators] def chromaCodeAt(mono: Array[Short], rate: Int,
      off: Int, cyc: Int, div: Int = 12,
      anchorOnly: Boolean = false, folds: Int = 1): Int = {
    require(div >= 12 && div <= 48 && div % 12 == 0,
      "div must be a multiple of 12 in 12..48 (code geometry scales " +
        "by q = div/12 so distances stay fixed in cents)")
    require(folds >= 1 && folds <= 32,
      "folds must be in 1..32 (total window = folds * cyc cycles)")
    val centers = if (div == 12) chromaCenters else chromaCentersAt(div)
    val bands = centers.length
    val q = div / 12
    val e = new Array[Double](bands)
    var k = 0
    while (k < bands) {
      val f = centers(k)
      // folds > 1 = the PHASE-INSENSITIVE form (m159): band energy is
      // the MEAN POWER over `folds` consecutive cyc-cycle sub-windows
      // instead of one window's power. A single short window's power
      // carries cross-terms between concurrent tones leaking into the
      // same band; those terms' phase advances by 2*pi*df*(cyc/f)
      // per sub-window (df = tone separation), so the mean cancels
      // them toward zero while each tone's own power adds coherently
      // — which is exactly what a TRUE (envelope-preserving) pitch
      // shift needs: it scales tone frequencies without the time
      // axis, scrambling inter-tone phase relationships that a speed
      // change preserves, so single-window powers are rendition-
      // dependent there (the m158 measured gap: 2/10 survival).
      // Sub-windows tile contiguously in probe time, so under a speed
      // change each band-(k+q) sub-window still covers the master-time
      // span band k's did — the constant-Q translation property folds
      // through unchanged. folds = 1 is bit-exact legacy behavior.
      val n1 = math.max(8, (cyc * rate / f).toInt)
      val n = n1 * folds
      if (off + n <= mono.length) {
        val wf = 2.0 * StrictMath.PI * f / rate
        val cw = StrictMath.cos(wf)
        val sw = StrictMath.sin(wf)
        val coeff = 2.0 * cw
        var p = 0.0
        var w = 0
        while (w < folds) {
          val base = off + w * n1
          var s1 = 0.0
          var s2 = 0.0
          var i = 0
          while (i < n1) {
            val s0 = mono(base + i) + coeff * s1 - s2
            s2 = s1; s1 = s0
            i += 1
          }
          val re = s1 - s2 * cw
          val im = s2 * sw
          p += (re * re + im * im) / (n1.toDouble * n1)
          w += 1
        }
        e(k) = p / folds
      } else e(k) = -1.0
      k += 1
    }
    // smooth over +-1 SEMITONE (q bands) before anchoring and
    // comparing: a partial sitting between two centers splits its
    // energy rendition-dependently, and raw between-partial bands are
    // near-zero so their orderings are discretization noise — the
    // windowed sum is a pure function of the energy pattern, so it
    // translates with the shift exactly like the raw vector
    val sm = new Array[Double](bands)
    var i = q
    while (i < bands - q) {
      var s = 0.0
      var d = -q
      while (d <= q) { s += e(i + d); d += 1 }
      sm(i) = s
      i += 1
    }
    var mx = 0.0
    i = q
    while (i < bands - q) { if (sm(i) > mx) mx = sm(i); i += 1 }
    if (mx <= 1.0) return -1 // silent or out-of-range frame
    var m = q
    while (m < bands - q && sm(m) < mx / 2) m += 1
    if (m + 16 * q >= bands) return -1 // window would cross the top
    if (anchorOnly) return m
    // bits compare smoothed bands THREE SEMITONES (3q bands) apart,
    // not adjacent — a 3-semitone gap spans into the next partial's
    // region, so the ordering is energy-driven, not noise-driven
    var code = 0
    var j = 0
    while (j < 13) {
      if (sm(m + (j + 3) * q) > sm(m + j * q)) code |= 1 << j
      j += 1
    }
    code
  }

  /** PITCH-CLASS landmarks — onset-anchored constant-Q codes for the
    * METRONOMIC corpus (the class where [[onsetIntervalLandmarks]] is
    * degenerate: equal inter-onset intervals quantize every ratio to
    * the same cell, so all docs share the one all-ratios-1 landmark
    * and timing carries zero discrimination — while every fixed-Hz
    * spectral tier breaks under the pitch scaling itself). One
    * [[chromaCodeAt]] code per onset IS the landmark (not a
    * consecutive pair: the anchor's half-max threshold can jitter one
    * band between independent renditions, and pairing would compound
    * each flipped code into two lost landmarks — set membership
    * keeps one flip at one loss), so values ride through trim, mux
    * rate, level, and integer-semitone pitch/speed shifts together.
    * Distinct per doc, one mapPartitions pass, no shuffle; onset-free
    * audio emits nothing (family contract). 13-bit codes are coarser
    * keys than the other landmark tiers' — at corpus scale keep the
    * `maxDf` cap on (hot codes are pruned before pair expansion,
    * recall rides on the remaining set). */
  def chromaOnsetLandmarks(media: DataFrame, cyc: Int = 12,
      threshold: Int = 1024, minSilenceMs: Int = 8, div: Int = 12,
      folds: Int = 1)(
      implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(cyc >= 4 && cyc <= 64,
      "cyc must be in 4..64 (analysis bandwidth = center/cyc)")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeWav(r.payload) match {
          case Some(w) if w.sampleRate > 0 =>
            val mono = monoMix(w)
            val rate = w.sampleRate
            val lms = scala.collection.mutable.LinkedHashSet.empty[Long]
            energyOnsets(mono, rate, threshold, minSilenceMs).foreach { o =>
              val c = chromaCodeAt(mono, rate, o, cyc, div, folds = folds)
              if (c >= 0) lms += c.toLong
            }
            lms.iterator.map(DocLandmark(r.doc_id, _))
          case _ => Iterator.empty
        }
      })
  }

  /** Version stamp for the PITCH-CLASS landmark family
    * ([[chromaOnsetLandmarks]] — bank layout, constant-Q window,
    * smoothing, anchor rule, code layout): namespaced (chroma =
    * 7000 + v; the family convention) so cross-family screens fail
    * fast at every version pair; 7001 = v1. Parameter choices (cyc,
    * div, thresholds) are NOT covered — screen with the parameters the
    * index was built with. */
  val ChromaFpVersion: Int = 7001

  /** PHASE-INSENSITIVE folded constant-Q profile at one onset — the
    * m159 kernel. Per band: mean POWER over `folds` consecutive
    * Hann-windowed cyc-cycle sub-windows, then the family's
    * +-1-semitone smoothing. Two deliberate differences from the
    * [[chromaCodeAt]] window: (a) the Hann taper kills the
    * rectangular window's side lobes, so a neighboring tone's AM
    * sidebands leak far less into a band, and (b) averaging power
    * over sub-windows cancels the residual cross-tone interference
    * terms, whose phase advances by 2*pi*df*(cyc/f) per sub-window —
    * the terms a TRUE (envelope-preserving) pitch shift scrambles,
    * because it scales tone frequencies without the time axis (a
    * speed change is a time-scaled waveform copy, which is why the
    * single-window tier survives it but measured only 2/10 here —
    * the m158 analysis). Measured on the metronomic fixture: mean
    * per-band |log energy ratio| between a master's profile
    * (shifted one band) and its true-pitch twin's drops from 0.372
    * (rectangular, one window) to 0.137 (Hann, folds = 4).
    * Sub-windows tile contiguously, so the constant-Q translation
    * property under speed changes folds through unchanged. Bands
    * whose window runs off the payload carry -1 sentinels. */
  private[operators] def chromaFoldedProfile(mono: Array[Short],
      rate: Int, off: Int, cyc: Int = 12,
      folds: Int = 4): Array[Double] = {
    val centers = chromaCenters
    val e = new Array[Double](centers.length)
    var k = 0
    while (k < centers.length) {
      val f = centers(k)
      val n1 = math.max(8, (cyc * rate / f).toInt)
      val n = n1 * folds
      if (off + n <= mono.length) {
        var p = 0.0
        var w = 0
        while (w < folds) {
          val base = off + w * n1
          var re = 0.0; var im = 0.0
          var i = 0
          while (i < n1) {
            val ph = 2.0 * StrictMath.PI * f * i / rate
            val wt = 0.5 - 0.5 * StrictMath.cos(2.0 * StrictMath.PI * i / n1)
            re += mono(base + i) * wt * StrictMath.cos(ph)
            im -= mono(base + i) * wt * StrictMath.sin(ph)
            i += 1
          }
          re /= n1; im /= n1
          p += re * re + im * im
          w += 1
        }
        e(k) = p / folds
      } else e(k) = -1.0
      k += 1
    }
    val sm = new Array[Double](e.length)
    sm(0) = -1.0; sm(sm.length - 1) = -1.0
    var i = 1
    while (i < e.length - 1) {
      sm(i) =
        if (e(i - 1) < 0 || e(i) < 0 || e(i + 1) < 0) -1.0
        else e(i - 1) + e(i) + e(i + 1)
      i += 1
    }
    sm
  }

  /** Margin-adaptive MULTIPROBE codes for one folded profile — the
    * m159 CANDIDATE stage. Even the folded kernel's residual +-14%
    * band noise flips a few of the 13 orderings per onset, so exact
    * single-code matching cannot carry recall (0.9^13 ~ 0.25 — the
    * measured single-window survival). Instead the INDEX side of a
    * pair emits, per candidate anchor (local maxima within
    * e^{-tau} of the half-max rule's threshold, lowest 3), the code
    * plus every variant over its <= maxWild lowest-|margin| bits —
    * a bit that flips between renditions almost always had a small
    * margin — while the PROBE side contributes only its primary
    * code. One shared code nominates a candidate pair; scoring is
    * the VERIFY tier's job ([[chromaPeakPearson]]), because the
    * fixed comparison grid carries only ~5 bits of content entropy
    * per onset and code overlap alone cannot separate true pairs
    * from a level-pattern collision (measured false floor 0.56+ —
    * the reason this tier is candidate+verify, not
    * match_frac-scored). Returns (primary, expanded); primary = -1
    * when the profile is silent/out-of-range. */
  private[operators] def chromaMultiprobeCodes(sm: Array[Double],
      tau: Double = 0.3, maxWild: Int = 3,
      maxAnchors: Int = 3): (Int, Array[Int]) = {
    val bands = sm.length
    var mx = 0.0
    var i = 1
    while (i < bands - 1) { if (sm(i) > mx) mx = sm(i); i += 1 }
    if (mx <= 1.0) return (-1, Array.empty)
    val half = mx / 2
    val lo = half * math.exp(-tau)
    val anchors = (2 until bands - 2).filter(j =>
      sm(j) >= lo && sm(j) >= sm(j - 1) && sm(j) >= sm(j + 1))
    val primaryAnchor = anchors.find(j => sm(j) >= half).getOrElse(-1)
    if (primaryAnchor < 0 || primaryAnchor + 16 >= bands)
      return (-1, Array.empty)
    def ln(v: Double) = if (v <= 0) -30.0 else math.log(v)
    def codeAndMargins(m: Int): (Int, Array[Double]) = {
      var code = 0
      val d = new Array[Double](13)
      var j = 0
      while (j < 13) {
        d(j) = ln(sm(m + j + 3)) - ln(sm(m + j))
        if (d(j) > 0) code |= 1 << j
        j += 1
      }
      (code, d)
    }
    val (pCode, _) = codeAndMargins(primaryAnchor)
    val expanded = scala.collection.mutable.LinkedHashSet.empty[Int]
    anchors.take(maxAnchors).foreach { m =>
      if (m + 16 < bands) {
        val (c, d) = codeAndMargins(m)
        val wild = d.zipWithIndex.filter(x => math.abs(x._1) < tau)
          .sortBy(x => math.abs(x._1)).take(maxWild).map(_._2)
        var mask = 0
        while (mask < (1 << wild.length)) {
          var cc = c
          var b = 0
          while (b < wild.length) {
            if ((mask & (1 << b)) != 0) cc ^= 1 << wild(b)
            b += 1
          }
          expanded += cc
          mask += 1
        }
      }
    }
    (pCode, expanded.toArray)
  }

  /** VERIFY metric for the m159 tier: pooled Pearson correlation of
    * log peak heights between two docs' per-onset folded profiles,
    * maximized over onset alignment (|delta| <= alignRange — the trim
    * offset in onset units) and band shift (|s| <= maxShift — the
    * pitch/speed translation in semitones). Peaks are taken from A's
    * profile only and B is sampled at the shifted band, so the tone
    * GRID the whole corpus shares contributes no correlation of its
    * own — only the per-segment level pattern does, which is exactly
    * the doc-identity signal. A true rendition pair reads
    * b ~ a + const with +-0.14 log noise over a ~5.7 log-range of
    * levels (Pearson 0.94+ measured, pure pitch AND stretch+pitch
    * compound); an unrelated pair's levels are independent (0.75
    * measured ceiling over 45 cherry-picked hypotheses). Requires
    * >= 8 pooled samples; returns 0 otherwise. */
  private[operators] def chromaPeakPearson(pa: Array[Array[Double]],
      pb: Array[Array[Double]], maxShift: Int = 4,
      alignRange: Int = 4): Double = {
    def samples(a: Array[Double], b: Array[Double],
        s: Int): Seq[(Double, Double)] = {
      var mx = 0.0
      var k = 0
      while (k < a.length) { if (a(k) > mx) mx = a(k); k += 1 }
      if (mx <= 1.0) Nil
      else (2 until a.length - 2).flatMap { j =>
        if (a(j) >= mx / 256 && a(j) >= a(j - 1) && a(j) > a(j + 1) &&
            j + s >= 1 && j + s < b.length && b(j + s) > 0)
          Some((math.log(a(j)), math.log(b(j + s))))
        else None
      }
    }
    def pearson(xs: Seq[(Double, Double)]): Double = {
      val n = xs.length
      if (n < 8) return 0.0
      var mxx = 0.0; var myy = 0.0
      xs.foreach { case (x, y) => mxx += x; myy += y }
      val mx = mxx / n; val my = myy / n
      var num = 0.0; var dx = 0.0; var dy = 0.0
      xs.foreach { case (x, y) =>
        num += (x - mx) * (y - my); dx += (x - mx) * (x - mx)
        dy += (y - my) * (y - my)
      }
      if (dx <= 0 || dy <= 0) 0.0 else num / math.sqrt(dx * dy)
    }
    var best = 0.0
    var d = -alignRange
    while (d <= alignRange) {
      var s = -maxShift
      while (s <= maxShift) {
        val xs = pb.indices.flatMap { i =>
          val j = i + d
          if (j >= 0 && j < pa.length) samples(pa(j), pb(i), s) else Nil
        }
        val r = pearson(xs)
        if (r > best) best = r
        s += 1
      }
      d += 1
    }
    best
  }

  private case class ChromaDocFp(doc_id: Long,
      profiles: Seq[Seq[Double]], primary: Seq[Int], expanded: Seq[Int])

  /** Audio near-dup pairs for the METRONOMIC TRUE-PITCH class — the
    * m159 tier, closing the one measured recall gap of round 11
    * (m158 analysis: a true envelope-preserving pitch shift on
    * metronomic audio scrambles inter-tone phases; single-window
    * chroma codes survive 2/10 and every other tier is structurally
    * blind). CANDIDATE+VERIFY architecture — the audio analog of the
    * aspect-fan's verify tier: [[chromaMultiprobeCodes]] nominates
    * pairs through a bucketed posting-list join (probe PRIMARY code
    * vs corpus EXPANDED codes, hot codes dropped by `maxDf` DISTINCT
    * docs before pair expansion — no all-pairs path), then
    * [[chromaPeakPearson]] scores each candidate on the two docs'
    * per-onset folded profiles, maximized over trim alignment and
    * pitch/speed band shift. Output (doc_a, doc_b, score), doc_a <
    * doc_b, score >= minScore; docs yielding no profiles emit
    * nothing (family contract). Catches pure pitch shifts AND the
    * time-stretch + pitch compound (both measured 10/10 at the 0.85
    * default, false ceiling 0.75); the single-window tier
    * ([[AudioChroma]]) remains the integer-semitone
    * SPEED-rendition member whose exact codes need no verify pass.
    * 100 TB shape: profiles are ~5 KB/doc computed once; candidate
    * volume is bounded by maxDf x postings; verification is per
    * CANDIDATE pair, never per doc pair. */
  def audioChromaVerifiedPairs(media: DataFrame, minScore: Double = 0.85,
      cyc: Int = 12, folds: Int = 4, tau: Double = 0.3, maxDf: Int = 64,
      maxShift: Int = 4, alignRange: Int = 4, threshold: Int = 1024,
      minSilenceMs: Int = 8)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(folds >= 1 && folds <= 32, "folds must be in 1..32")
    require(maxShift >= 0 && alignRange >= 0, "ranges must be >= 0")
    val fps = Materialize.eager(
      media.select(col("doc_id"), col("payload")).as[MediaRow]
        .mapPartitions(rows => rows.flatMap { r =>
          decodeWav(r.payload) match {
            case Some(w) if w.sampleRate > 0 =>
              val mono = monoMix(w)
              val rate = w.sampleRate
              val profiles = energyOnsets(mono, rate, threshold,
                minSilenceMs).map(o =>
                chromaFoldedProfile(mono, rate, o, cyc, folds))
              val codes = profiles.map(p =>
                chromaMultiprobeCodes(p, tau)).filter(_._1 >= 0)
              if (codes.isEmpty) None
              else Some(ChromaDocFp(r.doc_id,
                profiles.map(_.toSeq).toSeq,
                codes.map(_._1).distinct.toSeq,
                codes.flatMap(_._2).distinct.toSeq))
            case _ => None
          }
        }).toDF())
    val prim = fps.select(col("doc_id"),
      explode(col("primary")).as("code"))
    val expd = fps.select(col("doc_id"),
      explode(col("expanded")).as("code"))
    // hot-code guard on the EXPANDED posting side, by DISTINCT docs
    val cands = prim.join(
        Postings.capDf(expd, Seq("code"), maxDf, distinctDocs = true)
          .select(col("code"), col("doc_id").as("other")),
        Seq("code"))
      .filter(col("doc_id") =!= col("other"))
      .select(least(col("doc_id"), col("other")).as("doc_a"),
        greatest(col("doc_id"), col("other")).as("doc_b"))
      .distinct()
    val scoreUdf = udf((pa: Seq[Seq[Double]], pb: Seq[Seq[Double]]) =>
      chromaPeakPearson(pa.map(_.toArray).toArray,
        pb.map(_.toArray).toArray, maxShift, alignRange))
    cands
      .join(fps.select(col("doc_id").as("doc_a"),
        col("profiles").as("pa")), Seq("doc_a"))
      .join(fps.select(col("doc_id").as("doc_b"),
        col("profiles").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(scoreUdf(col("pa"), col("pb")), 6).as("score"))
      .filter(col("score") >= minScore)
  }

  /** Version of the audio fingerprint FUNCTION (canonicalization +
    * code derivation), stamped into every [[AudioCode]] index row: a
    * persisted index only matches probes fingerprinted by the SAME
    * function, so [[AudioCode]] screen fails fast on a version
    * it didn't build against instead of silently missing every
    * duplicate. v2 = round-9 canonicalization (unconditional channel
    * downmix + integer decimation to canonRate=8000); v1 (unstamped —
    * rows have no `fp_ver` column) was the raw-rate fingerprint.
    * Bump this whenever [[canonPcm]] / [[wavFrameCodes]] semantics
    * change; existing indexes must then be rebuilt. */
  val AudioFpVersion: Int = 2

  /** Version stamp for the SPECTRAL code family ([[spectralFrameCodes]]
    * — its own lineage, independent of [[AudioFpVersion]]): bump when
    * the band layout, frame duration, grid derivation or bit
    * derivation changes; existing spectral indexes must then be
    * rebuilt. Stamps are NAMESPACED per family in thousand blocks
    * (spectral = 1000 + v) so no two families can ever share a value —
    * the cross-family fail-fast (an integer index screened by the
    * spectral path, or vice versa) must hold at every version pair,
    * and round-11's drift-free-grid bump to v2 would otherwise have
    * collided with [[AudioFpVersion]] = 2. 1002 = v2, the round-11
    * drift-free frame grid (per-frame absolute-time offsets — codes
    * change at rates where rate*hopMs is not a multiple of 1000, e.g.
    * 44.1 kHz); v1 accumulated a truncated integer hop. */
  val SpectralFpVersion: Int = 1002

  /** Persisted landmark index rows: one per distinct (keys, doc) row
    * of `lms` with the doc's row count `n` riding along, stamped
    * `ver` — the layout every [[screenLandmarkIndex]] screen reads and
    * [[IncrementalIndex.append]] extends. */
  private def landmarkIndex(lms: DataFrame, ver: Int,
      keys: Seq[String] = Seq("lm"), n: String = "nl"): DataFrame =
    lms.join(lms.groupBy(col("doc_id")).agg(count(lit(1)).as(n)),
        Seq("doc_id"))
      .select((keys ++ Seq("doc_id", n)).map(col) :+ lit(ver).as("fp_ver"): _*)

  /** Shared-key agreement scorer of the audio tiers: per-key posting
    * lists ([[Postings.pairCounts]]) → shared keys over the smaller
    * doc's key count. Keyed by the positionless landmark `lm`
    * ([[AudioLandmark]] and the onset/interval/chroma tiers) or
    * by the aligned (frame_idx, code) bucket ([[AudioCode]],
    * [[AudioSpectralCode]]). Rows must be distinct per (doc, key) and
    * materialized by the caller. */
  private def landmarkPairScores(lms: DataFrame, minMatch: Double,
      maxDf: Int, keys: Seq[String] = Seq("lm")): DataFrame =
    Postings.overSmaller(Postings.pairCounts(lms, keys, maxDf),
      lms.groupBy(col("doc_id")).agg(count(lit(1)).as("nl")), minMatch)

  /** 64-bit perceptual hash (pHash) of an image payload — the IMAGE
    * near-duplicate signature completing the dedup ladder (exact bytes
    * → text shingles → embeddings → pixels): decode → BT.601 luma →
    * 32x32 integer box-average resample (no Graphics2D scaling — its
    * filtering is implementation-defined) → 2D DCT-II via StrictMath
    * (bit-reproducible across JVMs, unlike Math.cos's 1-ulp license) →
    * the 8x8 low-frequency block → median threshold over the 63
    * non-DC coefficients → one bit each (bit 63 stays 0). Recompressed
    * or lightly-edited images land within a few bits; unrelated images
    * scatter to ~32. None for undecodable payloads. */
  /** EXIF orientation (1-8) of a JPEG payload, 0 when absent or not a
    * JPEG: walks the marker stream to the APP1 "Exif\u0000\u0000"
    * segment, then the embedded TIFF IFD0 for tag 0x0112. Handles both
    * byte orders ("II"/"MM"); any malformed structure returns 0 (the
    * sniff is bytes, not trust). Stops at SOS — EXIF precedes entropy
    * data by spec, and scanning compressed bytes for 0xFF pairs would
    * false-positive. */
  private[operators] def exifOrientation(b: Array[Byte]): Int = {
    try {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return 0
      var p = 2
      while (p + 4 <= b.length && (b(p) & 0xff) == 0xff) {
        val marker = b(p + 1) & 0xff
        if (marker == 0xda) return 0 // SOS: no EXIF past here
        if (marker >= 0xd0 && marker <= 0xd9) { p += 2 }
        else {
          val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
          if (len < 2 || p + 2 + len > b.length) return 0
          if (marker == 0xe1 && len >= 16 &&
              b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
              b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
            val t = p + 10 // TIFF header
            val le = b(t) == 'I' && b(t + 1) == 'I'
            val be = b(t) == 'M' && b(t + 1) == 'M'
            if (!le && !be) return 0
            def rd16(o: Int): Int =
              if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
              else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
            def rd32(o: Int): Int =
              if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
                ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
              else ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
                ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
            if (rd16(t + 2) != 42) return 0
            // All IFD reads must stay inside the APP1 segment itself —
            // bounding by b.length alone would let a truncated Exif
            // body walk into later markers or entropy-coded data and
            // decode garbage as an orientation.
            val segEnd = p + 2 + len
            val ifd = t + rd32(t + 4)
            if (ifd < t || ifd + 2 > segEnd) return 0
            val n = rd16(ifd)
            var i = 0
            while (i < n) {
              val e = ifd + 2 + 12 * i
              if (e + 12 > segEnd) return 0
              if (rd16(e) == 0x0112) {
                val v = rd16(e + 8)
                return if (v >= 1 && v <= 8) v else 0
              }
              i += 1
            }
            return 0
          }
          p += 2 + len
        }
      }
      0
    } catch { case scala.util.control.NonFatal(_) => 0 }
  }

  /** Apply an EXIF orientation's DISPLAY transform to a 32x32 grid —
    * dest(y,x) = the stored cell that belongs there when the image is
    * viewed correctly. Exact for square images (the grid of a
    * transformed square image IS the transformed grid); non-square
    * differ only by box-boundary rounding, inside near-dup
    * tolerance. */
  private def orientGrid(g: Array[Double], o: Int): Array[Double] =
    if (o < 2 || o > 8) g
    else Array.tabulate(32 * 32) { i =>
      val y = i / 32; val x = i % 32
      val (sy, sx) = o match {
        case 2 => (y, 31 - x)           // mirror horizontal
        case 3 => (31 - y, 31 - x)      // rotate 180
        case 4 => (31 - y, x)           // mirror vertical
        case 5 => (x, y)                // transpose
        case 6 => (31 - x, y)           // rotate 90 CW
        case 7 => (31 - x, 31 - y)      // transverse
        case _ => (x, 31 - y)           // 8: rotate 270 CW
      }
      g(sy * 32 + sx)
    }

  /** The 32x32 box-averaged luma grid [[pHash64]] hashes — factored
    * out so orientation variants can transform the grid and share ONE
    * decode (the flip-tolerant tier). JPEGs carrying an EXIF
    * orientation tag are NORMALIZED here ([[exifOrientation]] +
    * [[orientGrid]]): the dominant phone-camera repost stores rotated
    * pixels plus the tag, and normalizing at decode lands it via the
    * PLAIN pHash tier — one probe instead of eight (m116). Untagged
    * payloads (and all non-JPEG formats) are untouched, so every
    * existing pinned hash is unchanged. */
  private def grid32(payload: Array[Byte]): Option[Array[Double]] =
    decodeImage(payload).map { img =>
      val luma = lumaPlane(img)
      val w = img.getWidth
      val h = img.getHeight
      // integer box-average to 32x32 (cell sums exact, one division)
      val g = new Array[Double](32 * 32)
      var cy = 0
      while (cy < 32) {
        val y0 = cy * h / 32; val y1 = math.max((cy + 1) * h / 32, y0 + 1)
        var cx = 0
        while (cx < 32) {
          val x0 = cx * w / 32; val x1 = math.max((cx + 1) * w / 32, x0 + 1)
          var s = 0L
          var y = y0
          while (y < math.min(y1, h)) {
            var x = x0
            while (x < math.min(x1, w)) { s += luma(y * w + x) & 0xff; x += 1 }
            y += 1
          }
          val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
          g(cy * 32 + cx) = if (n > 0) s.toDouble / n else 0.0
          cx += 1
        }
        cy += 1
      }
      orientGrid(g, exifOrientation(payload))
    }

  /** DCT-II 8x8 block + median-threshold bits of a 32x32 grid — the
    * hash half of [[pHash64]], arithmetic order unchanged from its
    * original inline form (pinned goldens depend on it). */
  private def pHashOfGrid(g: Array[Double]): Long = {
      // separable 2D DCT-II, only the u,v < 8 block is needed
      val coef = new Array[Double](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var acc = 0.0
          var y = 0
          while (y < 32) {
            var x = 0
            while (x < 32) {
              acc += g(y * 32 + x) *
                StrictMath.cos((2 * y + 1) * u * StrictMath.PI / 64.0) *
                StrictMath.cos((2 * x + 1) * v * StrictMath.PI / 64.0)
              x += 1
            }
            y += 1
          }
          coef(u * 8 + v) = acc
          v += 1
        }
        u += 1
      }
      val ac = coef.drop(1) // 63 non-DC coefficients, (u,v) order
      val median = ac.sorted.apply(31)
      var bits = 0L
      var i = 0
      while (i < 63) {
        if (ac(i) > median) bits |= 1L << i
        i += 1
      }
      bits
  }

  private[operators] def pHash64(payload: Array[Byte]): Option[Long] =
    grid32(payload).map(pHashOfGrid)

  /** The CANONICAL CROP WINDOWS of an image, as (x0, y0, x1, y1)
    * fractions of (w, h) in eighths — the crop-tolerant tier's probe
    * set: 0 = full, 1 = center 75%, 2 = center 50%, 3-6 = the four
    * 50% quadrants (TL, TR, BL, BR). These are the structured crops
    * real re-uploads overwhelmingly are (thumbnail center crops,
    * aspect-ratio letterbox removal, crop-to-quadrant-subject);
    * arbitrary-offset crops are OUT of this tier's scope by design
    * (catching them needs content-anchored keypoints — no CV
    * libraries in scope) and the m128 gate pins one as a non-match. */
  private val CropWindows: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (1, 1, 7, 7), (2, 2, 6, 6),
    (0, 0, 4, 4), (4, 0, 8, 4), (0, 4, 4, 8), (4, 4, 8, 8))

  /** The EXTENDED ladder (windows 7-15): nine 2/3-size windows on a
    * 3x3 anchor grid in SIXTHS — the rule-of-thirds recomposition
    * crops (off-center crop-to-subject) the base 7 don't cover.
    * Window 7 + gy*3 + gx anchors at (gx/6, gy/6). Opt-in via
    * `extended = true` on the crop ops: 16 hashes per decode instead
    * of 7, the same linear posting-cost trade as the base set. */
  private val CropWindowsThirds: Array[(Int, Int, Int, Int)] =
    (for (gy <- 0 to 2; gx <- 0 to 2) yield (gx, gy, gx + 4, gy + 4)).toArray

  /** 32x32 box-average of the luma sub-rect [x0, x1) x [y0, y1) —
    * [[grid32]]'s kernel over a window. Cell boundaries are derived
    * from the WINDOW size with the same integer arithmetic as the
    * full grid, so a payload containing exactly those pixels (the
    * crop re-upload) produces the IDENTICAL grid — window hash equals
    * crop hash exactly, not just within tolerance. */
  private def grid32Window(luma: Array[Byte], w: Int, h: Int,
      x0: Int, y0: Int, x1: Int, y1: Int): Array[Double] = {
    val ww = x1 - x0
    val wh = y1 - y0
    val g = new Array[Double](32 * 32)
    var cy = 0
    while (cy < 32) {
      val cy0 = y0 + cy * wh / 32
      val cy1 = y0 + math.max((cy + 1) * wh / 32, cy * wh / 32 + 1)
      var cx = 0
      while (cx < 32) {
        val cx0 = x0 + cx * ww / 32
        val cx1 = x0 + math.max((cx + 1) * ww / 32, cx * ww / 32 + 1)
        var s = 0L
        var y = cy0
        while (y < math.min(cy1, y1)) {
          var x = cx0
          while (x < math.min(cx1, x1)) { s += luma(y * w + x) & 0xff; x += 1 }
          y += 1
        }
        val n = (math.min(cy1, y1) - cy0).toLong * (math.min(cx1, x1) - cx0)
        g(cy * 32 + cx) = if (n > 0) s.toDouble / n else 0.0
        cx += 1
      }
      cy += 1
    }
    g
  }

  /** All seven [[CropWindows]] hashes from ONE decode — the
    * crop-tolerant tier's table: window 0 reproduces [[pHash64]]
    * bit-exactly (same gridding arithmetic), and a re-upload cropped
    * to window k of a master hashes (as a whole image) EXACTLY to the
    * master's window-k hash — the crop IS those pixels, and the grid
    * cell boundaries match by construction. EXIF orientation applies
    * to every window grid like the full hash. */
  private[operators] def pHash64CropWindows(payload: Array[Byte],
      extended: Boolean = false): Option[Seq[(Int, Long)]] =
    decodeImage(payload).map { img =>
      val luma = lumaPlane(img)
      val w = img.getWidth
      val h = img.getHeight
      val o = exifOrientation(payload)
      val base = CropWindows.toIndexedSeq.zipWithIndex.map {
        case ((fx0, fy0, fx1, fy1), win) =>
          val g = grid32Window(luma, w, h,
            fx0 * w / 8, fy0 * h / 8, fx1 * w / 8, fy1 * h / 8)
          (win, pHashOfGrid(orientGrid(g, o)))
      }
      if (!extended) base
      else base ++ CropWindowsThirds.toIndexedSeq.zipWithIndex.map {
        case ((fx0, fy0, fx1, fy1), i) =>
          val g = grid32Window(luma, w, h,
            fx0 * w / 6, fy0 * h / 6, fx1 * w / 6, fy1 * h / 6)
          (7 + i, pHashOfGrid(orientGrid(g, o)))
      }
    }

  private[operators] val pHashCropWindowsUdf =
    udf((payload: Array[Byte]) => pHash64CropWindows(payload))

  private[operators] val pHashCropWindowsExtUdf =
    udf((payload: Array[Byte]) => pHash64CropWindows(payload, extended = true))

  /** (as-is hash, horizontally-mirrored hash) from ONE decode — the
    * flip-tolerant tier's probe: a mirrored repost's as-is hash equals
    * the original's mirrored hash, so probing both orientations
    * catches it without re-decoding anything. */
  private[operators] def pHash64Both(payload: Array[Byte]): Option[(Long, Long)] =
    grid32(payload).map { g =>
      val m = new Array[Double](32 * 32)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) { m(y * 32 + x) = g(y * 32 + 31 - x); x += 1 }
        y += 1
      }
      (pHashOfGrid(g), pHashOfGrid(m))
    }

  private[operators] val pHashUdf = udf((payload: Array[Byte]) => pHash64(payload))
  private[operators] val pHashBothUdf = udf((payload: Array[Byte]) => pHash64Both(payload))

  /** Quarter-turn rotation of the 32x32 grid: rot = number of
    * clockwise quarter turns (0..3). dest(y,x) = src of the pixel that
    * lands there — exact for square images (the grid of a rotated
    * square image IS the rotated grid); non-square images differ only
    * by box-boundary rounding, inside near-dup tolerance. */
  private def rotGrid(g: Array[Double], rot: Int): Array[Double] = rot match {
    case 0 => g
    case 1 => Array.tabulate(32 * 32)(i => g((31 - i % 32) * 32 + i / 32))
    case 2 => Array.tabulate(32 * 32)(i =>
      g((31 - i / 32) * 32 + (31 - i % 32)))
    case _ => Array.tabulate(32 * 32)(i => g((i % 32) * 32 + (31 - i / 32)))
  }

  /** The four quarter-turn orientation hashes from ONE decode — the
    * rotation-tolerant tier's probe: a phone-rotated repost's as-is
    * hash equals the original's correspondingly-rotated hash (exactly
    * for square images). Mirroring composes via [[pHash64Both]]; the
    * full dihedral-8 set is the product of the two tricks. */
  private[operators] def pHash64Rots(payload: Array[Byte]): Option[Seq[Long]] =
    grid32(payload).map(g => (0 until 4).map(r => pHashOfGrid(rotGrid(g, r))))

  private[operators] val pHashRotsUdf =
    udf((payload: Array[Byte]) => pHash64Rots(payload))

  /** All EIGHT dihedral-group orientation hashes from ONE decode —
    * indices 0-3 = r clockwise quarter turns of the as-is grid,
    * 4-7 = r quarter turns of the horizontally-mirrored grid. Every
    * composition of flips and rotations is one of these eight, so a
    * compound repost (rot90 + mirror, or the rot180 + mirror vertical
    * flip) — which the 4-rotation and 2-mirror probe sets each miss
    * alone — lands on its source in a single pass. */
  private[operators] def pHash64Dihedral(payload: Array[Byte]): Option[Seq[Long]] =
    grid32(payload).map { g =>
      val m = new Array[Double](32 * 32)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) { m(y * 32 + x) = g(y * 32 + 31 - x); x += 1 }
        y += 1
      }
      (0 until 4).map(r => pHashOfGrid(rotGrid(g, r))) ++
        (0 until 4).map(r => pHashOfGrid(rotGrid(m, r)))
    }

  private[operators] val pHashDihedralUdf =
    udf((payload: Array[Byte]) => pHash64Dihedral(payload))

  /** Shared chunk-pair scorer of the pHash tiers over (doc_id[, win], h)
    * rows, h a 64-bit hash (the last column): 4 x 16-bit chunk buckets
    * ([[Postings.chunks16]] — pigeonhole-complete for hamming <= 3),
    * the `maxDf` cap BEFORE the posting-list aggregation, bucket posting
    * lists of whole rows expanded by [[Postings.pairs]], and one exact
    * `bit_count` verify per candidate. One row per doc (`oriented =
    * false`): the cap counts rows (== docs), output distinct
    * (doc_a, doc_b, dist) — a pair can share several intact chunks.
    * Several rows per doc (orientations or crop windows, `oriented =
    * true`): the cap counts DISTINCT docs, so a [[PHash]]-tuned
    * maxDf carries over despite the row inflation; same-doc pairs drop,
    * a `win` column keeps only pairs with window 0 (the full image) on
    * one side, and each pair (per window combo) keeps its minimum
    * distance. */
  private def chunkPairScores(rows: DataFrame, maxDist: Int, maxDf: Int,
      oriented: Boolean): DataFrame = {
    val h = rows.columns.last
    val win = if (rows.columns.contains("win")) Seq("win_a", "win_b") else Nil
    val pairs = Postings.capDf(Postings.chunks16(rows, h), Seq("chunk", "ckey"),
        maxDf, oriented)
      .groupBy(col("chunk"), col("ckey"))
      .agg(collect_list(struct(rows.columns.map(col): _*)).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(Postings.pairs(col("ds"))).as("p"))
    val dist = bit_count(col(s"p.a.$h").bitwiseXOR(col(s"p.b.$h"))).as("dist")
    if (!oriented)
      pairs.select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
          dist)
        .filter(col("dist") <= maxDist)
        .distinct()
    else {
      val other = pairs.filter(col("p.a.doc_id") =!= col("p.b.doc_id"))
      (if (win.isEmpty) other
       else other.filter(col("p.a.win") === 0 || col("p.b.win") === 0))
        .select(Seq(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b")) ++
          win.map(w => col(s"p.${w.last}.win").as(w)) :+ dist: _*)
        .filter(col("dist") <= maxDist)
        .groupBy((Seq("doc_a", "doc_b") ++ win).map(col): _*)
        .agg(min(col("dist")).as("dist"))
    }
  }

  /** A CROP of [[syntheticPng]]'s pixel field — the m128 fixture:
    * renders pixels (x0..x1) x (y0..y1) of master `id`'s (w, h)
    * field, so the payload contains EXACTLY the pixels of that
    * window (PNG is lossless) and its whole-image pHash equals the
    * master's window hash bit-for-bit when the rect matches a
    * [[CropWindows]] entry. */
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
    * normalization at decode ([[grid32]]) makes its PLAIN pHash land
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

  /** Persisted pHash chunk INDEX of an image corpus — the incremental
    * complement of [[PHash]] and the image-side sibling of
    * `TextDedup.minHashBandIndex` / `Similarity.srpBucketIndex`: hash
    * the corpus ONCE, write this table (bucketed by (chunk, ckey) in
    * production), and screen every ingest batch with
    * [[PHash]] screen — no corpus re-decode per increment.
    * One row per (chunk, image): `(chunk, ckey, doc_id, ph)`; the full
    * hash rides along so candidate verification is one `bit_count`. */
  def pHashChunkIndex(media: DataFrame): DataFrame =
    Postings.chunks16(Materialize.eager(PHash.landmarks(media))
        .filter(col("ph").isNotNull), "ph")
      .select(col("chunk"), col("ckey"), col("doc_id"), col("ph"),
        lit(PHashFpVersion).as("fp_ver"))

  /** Version stamp for the pHash INDEX family ([[pHashChunkIndex]],
    * [[pHashCropWindowIndex]] — everything [[pHash64]]'s value depends
    * on: grid decode, EXIF orientation normalization, DCT, median
    * split). Namespaced (phash = 13000 + v). 13001 is the retroactive
    * name for the UNSTAMPED pre-EXIF-normalization generation (rounds
    * <= 10 — no fp_ver column); 13002 = the round-11
    * EXIF-orientation-normalized [[pHash64]]. A standing index or
    * streaming checkpoint built before that change silently stops
    * matching EXIF-tagged-JPEG probes — the silent-miss mode this
    * stamp exists to surface (the spectral family's identical
    * situation got SpectralFpVersion 1002). Streaming pHash state
    * lives in checkpoints, not index tables, so it cannot carry the
    * stamp: on a pHash-affecting bump, restart those streams from a
    * fresh checkpoint (CHANGELOG state-schema note). */
  val PHashFpVersion: Int = 13002

  /** Persisted CROP-WINDOW pHash index — the incremental member of
    * the m128 tier: the corpus decodes ONCE into all seven
    * [[CropWindows]] hashes per image (28 chunk rows — the dihedral
    * screen's 8x probe-side factor moved to the INDEX side, because
    * crop asymmetry runs the other way: the CORPUS holds the masters
    * whose windows a future crop will equal, while the probe is a
    * whole image with one hash). [[PHashCrop]] screen
    * screens every ingest batch at 4 probe rows per image — a
    * structured-crop re-upload of a corpus master is caught with no
    * corpus re-decode. Same stamped layout family as
    * [[pHashChunkIndex]] ([[PHashFpVersion]] covers the pHash
    * function — grid decode, EXIF normalization, DCT).
    * `extended = true` registers the [[CropWindowsThirds]] ladder too
    * (windows 7-15, 64 chunk rows/doc) — the rule-of-thirds
    * recomposition class; the SCREEN side is identical either way (a
    * crop arrives as a whole image with one hash), so base and
    * extended indexes differ only in which crops they can catch. */
  def pHashCropWindowIndex(media: DataFrame,
      f: PHashCrop = PHashCrop()): DataFrame =
    Materialize.eager(f.landmarks(media))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), explode(col("hs")).as("wh"))
      .select(col("doc_id"), col("wh._1").as("win"), col("wh._2").as("ph"))
      .transform(Postings.chunks16(_, "ph"))
      .select(col("chunk"), col("ckey"), col("doc_id"), col("win"), col("ph"),
        lit(PHashFpVersion).as("fp_ver"))

  /** Shared screen of the pHash indexes: fail-fast `stamp` gate, then
    * the batch's materialized (doc_id, ph) hashes (all eight
    * [[pHash64Dihedral]] orientations in `ph` when `dihedral`) chunk
    * ([[Postings.chunks16]]) and equi-join the `maxDf`-capped index on
    * (chunk, ckey), each candidate verifies with one `bit_count`
    * against the hash carried in the index row, and a probe is a
    * duplicate of the lowest matching corpus image. The crop-window
    * index (`crop`) caps by DISTINCT corpus docs (window rows never
    * inflate the count). Hashless payloads are absent from the output. */
  private def screenPHashIndex(probes: => DataFrame, index: DataFrame,
      maxDist: Int, maxDf: Int, stamp: Postings.Stamp, dihedral: Boolean,
      crop: Boolean): DataFrame = {
    requireChunkRecall(maxDist)
    Postings.requireStamp(index, stamp)
    val hashed = probes.filter(col("ph").isNotNull)
    val rows = if (dihedral) hashed.select(col("doc_id"), explode(col("ph")).as("h"))
      else hashed
    val h = rows.columns.last
    val dup = Postings.chunks16(rows, h).join(
        Postings.capDf(index, Seq("chunk", "ckey"), maxDf, crop)
          .select(col("chunk"), col("ckey"), col("doc_id").as("src"),
            col("ph").as("cph")),
        Seq("chunk", "ckey"))
      .dropDuplicates(Seq("doc_id", "src") ++
        (if (dihedral) Seq("h") else if (crop) Seq("cph") else Nil))
      .filter(bit_count(col(h).bitwiseXOR(col("cph"))) <= maxDist)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(hashed.select(col("doc_id")), dup)
  }

  /** Content-anchored PEAK-PATCH hashes — the ARBITRARY-OFFSET crop
    * tier the canonical-window family (m128-m134) declares out of
    * scope, without CV libraries: the image analog of the audio
    * tier's onset anchoring (m115 — anchors travel with the CONTENT,
    * not the sampling grid). Kernel: 3x3 box-SUM smoothing of the
    * luma plane (integer-exact, no rounding), a peak = STRICT local
    * maximum of the smoothed field over a Chebyshev `radius`
    * neighborhood, and each peak's landmark = FNV-1a 64 hash of the
    * raw (2*patch+1)^2-pixel square centered on it. Everything a
    * peak's detection and hash depend on lies within
    * margin = max(radius+2, patch) of it, and candidates keep that
    * support inside the image — so a LOSSLESS crop at ANY offset
    * reproduces every surviving peak's hash bit-exactly: detection
    * compares the same smoothed values, the patch is the same bytes.
    * (A crop's peak set is a subset of its master's — border peaks
    * fall away — which is why the pair metric scores over the
    * SMALLER set.) `k > 0` keeps the k strongest peaks, ranked by
    * smoothed value desc with ties broken by patch hash —
    * COORDINATE-FREE, so the ranking itself survives the crop's
    * coordinate shift; k = 0 keeps all peaks (the default: ~w*h/
    * (2*radius+1)^2 landmarks on textured content, the bound the
    * strict-max spacing gives). */
  private[operators] def peakPatchHashes(payload: Array[Byte],
      radius: Int = 2, patch: Int = 4, k: Int = 0): Option[Seq[Long]] =
    decodeImage(payload).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val luma = lumaPlane(img)
      val peaks = peakCells(luma, w, h, radius, patch)
        .map { case (x, y, v) =>
          (v, patchHashOriented(luma, w, x, y, patch, 0))
        }
      val ranked =
        if (k <= 0) peaks
        else peaks.sortBy { case (v, hsh) => (-v, hsh) }.take(k)
      ranked.map(_._2).distinct.toSeq
    }

  /** The peak-detection core shared by the plain and dihedral hash
    * forms: strict local maxima (x, y, smoothed value) of the 3x3
    * box-SUM plane over a Chebyshev `radius` neighborhood, with full
    * support margin. */
  private[operators] def peakCells(luma: Array[Byte], w: Int, h: Int,
      radius: Int, patch: Int): scala.collection.mutable.ArrayBuffer[(Int, Int, Int)] = {
    // smoothed plane (3x3 box sums), defined on [1, w-1) x [1, h-1)
    val sm = new Array[Int](w * h)
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        var s = 0
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) { s += luma((y + dy) * w + (x + dx)) & 0xff; dx += 1 }
          dy += 1
        }
        sm(y * w + x) = s
        x += 1
      }
      y += 1
    }
    val margin = math.max(radius + 2, patch)
    val peaks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    y = margin
    while (y < h - margin) {
      var x = margin
      while (x < w - margin) {
        val v = sm(y * w + x)
        var isMax = true
        var dy = -radius
        while (isMax && dy <= radius) {
          var dx = -radius
          while (isMax && dx <= radius) {
            if ((dx != 0 || dy != 0) && sm((y + dy) * w + (x + dx)) >= v)
              isMax = false
            dx += 1
          }
          dy += 1
        }
        if (isMax) peaks += ((x, y, v))
        x += 1
      }
      y += 1
    }
    peaks
  }

  /** FNV-1a 64 of the (2*patch+1)^2 square centered at (x, y), read
    * out under dihedral element `o` (0 = natural row-major — the
    * [[peakPatchHashes]] order bit-for-bit; 1-3 = quarter turns;
    * 4-7 = mirrored then turned). The 8 readouts form the full
    * dihedral group, so for ANY rotation/mirror `g` applied to the
    * IMAGE, the transformed image's NATURAL readout of a surviving
    * peak equals the original's readout under the group element
    * undoing `g` — the probe-side orientation fan the flip/rot/
    * dihedral pHash tiers use, at the patch seam. */
  private def patchHashOriented(luma: Array[Byte], w: Int, x: Int,
      y: Int, patch: Int, o: Int): Long = {
    var hsh = 0xcbf29ce484222325L
    var j = -patch
    while (j <= patch) {
      var i = -patch
      while (i <= patch) {
        val (si, sj) = o match {
          case 1 => (j, -i)
          case 2 => (-i, -j)
          case 3 => (-j, i)
          case 4 => (-i, j)
          case 5 => (j, i)
          case 6 => (i, -j)
          case 7 => (-j, -i)
          case _ => (i, j)
        }
        hsh ^= (luma((y + sj) * w + (x + si)) & 0xffL)
        hsh *= 0x100000001b3L
        i += 1
      }
      j += 1
    }
    hsh
  }

  /** All 8 dihedral readouts per peak — the ROTATED/MIRRORED +
    * arbitrary-crop compound's probe table: (orient, hash) rows,
    * orient 0 bit-identical to [[peakPatchHashes]]. Peak DETECTION is
    * dihedral-invariant (box smoothing, Chebyshev neighborhood, and
    * margins are all square-symmetric), so a rotated crop's natural
    * peaks are exactly the master's surviving peaks — only the
    * readout order changes, and one of the 8 undoes it. */
  private[operators] def peakPatchHashesDihedral(payload: Array[Byte],
      radius: Int = 2, patch: Int = 4): Option[Seq[(Int, Long)]] =
    decodeImage(payload).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val luma = lumaPlane(img)
      val cells = peakCells(luma, w, h, radius, patch)
      (0 until 8).flatMap(o =>
        cells.map { case (x, y, _) =>
          (o, patchHashOriented(luma, w, x, y, patch, o)) }.distinct)
    }

  /** One (doc_id, lm) posting row per distinct peak-patch hash — the
    * [[peakPatchHashes]] tier's landmark table, one decode per image,
    * no shuffle. */
  def imagePeakLandmarks(media: DataFrame, radius: Int,
      patch: Int, k: Int)(implicit s: SparkSession): DataFrame = {
    val u = udf((p: Array[Byte]) => peakPatchHashes(p, radius, patch, k))
    media.select(col("doc_id"), u(col("payload")).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), explode(col("hs")).as("lm"))
  }

  /** One (doc_id, orient, lm) row per dihedral readout of each peak —
    * the compound tier's probe table ([[peakPatchHashesDihedral]]). */
  def imagePeakLandmarksOriented(media: DataFrame, radius: Int,
      patch: Int)(implicit s: SparkSession): DataFrame = {
    val u = udf((p: Array[Byte]) => peakPatchHashesDihedral(p, radius, patch))
    media.select(col("doc_id"), u(col("payload")).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), explode(col("hs")).as("oh"))
      .select(col("doc_id"), col("oh._1").as("orient"), col("oh._2").as("lm"))
  }

  /** Shared pair scorer for the ORIENTED landmark frames (peak-patch
    * m140 / constellation m145): lower doc's orient-0 landmarks on
    * one side, any of the higher doc's 8 readouts on the other,
    * distinct-doc `maxDf` cap BEFORE pair expansion, scored per
    * orientation over the smaller orient-0 landmark count. Input:
    * distinct (doc_id, orient, lm) rows. */
  private def orientedLandmarkPairScores(lms: DataFrame,
      minMatch: Double, maxDf: Int, minShared: Int = 0): DataFrame = {
    // AutoDf solves over distinct (doc, lm) across ALL orientations —
    // the exact basis the cap predicate below enforces (a mirrored
    // readout generally lands on a DIFFERENT code value than its
    // identity source, so an identity-only histogram would undercount
    // the enforced df and the solved cap could overrun the budget)
    val (cap, solvedCap) = Postings.resolveDfCap(
      lms.select(col("doc_id"), col("lm")).distinct(), maxDf, 16)
    val n0 = lms.filter(col("orient") === 0)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    // the df cap applies to the posting row itself (rows are distinct
    // per (doc, orient, lm), so the distinct-DOC df needs the in-row
    // dedup) — one groupBy(lm) instead of Postings.capDf's count
    // aggregation + semi-join back + re-group (two extra full-table
    // shuffles on the same key)
    val counts = lms.groupBy(col("lm"))
      .agg(collect_list(struct(col("doc_id"), col("orient"))).as("ds"))
      .filter(size(col("ds")) >= 2 &&
        Postings.dfCapKeep(lms.sparkSession, col("lm"),
          size(array_distinct(transform(col("ds"),
            x => x.getField("doc_id")))), cap, solvedCap))
      .select(explode(Postings.pairs(col("ds"))).as("p"))
      .filter(col("p.a.doc_id") < col("p.b.doc_id"))
      .filter(col("p.a.orient") === 0)
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.b.orient").as("orient"))
      .agg(count(lit(1)).as("c"))
      // the same ABSOLUTE evidence floor as peakLandmarkPairScores
      .filter(col("c") >= math.max(1, minShared))
    Postings.overSmaller(counts, n0, minMatch, "orient")
  }

  /** Hot-code backstop for the landmark pair scorers: when a caller
    * passes maxDf <= 0 ("uncapped"), the scorers historically built
    * `collect_list(doc_id)` per code with NO bound — on measured
    * corpora fine (avg df stays low even at 32k docs), but ONE
    * degenerate code shared by k docs inflates a single aggregation
    * row to k entries and the pair explode to k^2 with no cap and no
    * trace. [[Postings.dfCapKeep]] therefore always bounds the posting list:
    * the caller's maxDf when given, else this auto-cap. 4096 is far
    * above any identifying code's df (the families' measured 32k-doc
    * sweeps stay in the tens even for their hottest codes) yet bounds
    * the worst single-row blowup at ~16M struct entries instead of
    * unbounded. Codes dropped by the AUTO cap are counted in the
    * [[hotCodesDropped]] accumulator and logged per code, so an
    * adversarial corpus self-reports instead of silently losing
    * recall. A spec lowers it through the scorers' private[graft]
    * `autoCap` parameter; 0 disables the auto-cap entirely (never the
    * explicit maxDf). */
  private[graft] val HotCodeAutoCap: Int = 4096

  /** Survivor-pair bound under which the verified tier's gather pass
    * pre-filters its re-explode to survivor docs (round 18 — see
    * [[affineFramePairsVerifiedFrom]]). The filter probes a literal
    * sorted id array per posting entry, so its worst-case extra cost
    * is entries x 2*threshold long-compares — bounded small by this
    * constant; corpora whose survivor mass exceeds it take the
    * unconditional re-explode exactly as round 17 shipped it. A spec
    * forces either path through [[verifiedPairsFrom]] /
    * [[affineFramePairsChiralVerifiedFrom]]. */
  private[graft] val SurvivorGatherMaxPairs: Long = 256L

  @transient private lazy val hotLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Multimodal")

  private val hotCodeAccs =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.util.LongAccumulator]

  /** Count of codes dropped by the AUTO posting cap in this Spark
    * application (diagnostic: task retries may overcount). */
  private[graft] def hotCodesDropped(s: SparkSession)
      : org.apache.spark.util.LongAccumulator =
    hotCodeAccs.computeIfAbsent(s.sparkContext.applicationId,
      _ => s.sparkContext.longAccumulator("graft.hotCodesDropped"))

  /** Shared pair scorer for the peak-landmark frames (image m136 /
    * video m138): posting-list join on the landmark with a
    * distinct-doc `maxDf` cap BEFORE pair expansion (auto-capped at
    * `autoCap` when maxDf <= 0), shared distinct
    * landmarks over the SMALLER set >= minMatch. Input: distinct
    * (doc_id, lm) rows. */
  private[graft] def peakLandmarkPairScores(lms: DataFrame, minMatch: Double,
      maxDf: Int, minShared: Int = 0,
      autoCap: Int = HotCodeAutoCap): DataFrame = {
    // AutoDf: one extra pass over the (already materialized) landmark
    // table solves the cap from the measured df distribution
    val (cap, solvedCap) = Postings.resolveDfCap(lms, maxDf, 16)
    // rows are distinct (doc_id, lm), so the posting size IS the
    // code's distinct-doc df and the cap filters in-row — one
    // groupBy(lm) instead of Postings.capDf's count aggregation +
    // semi-join back + re-group (two extra full-table shuffles)
    val counts = lms.groupBy(col("lm"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2 &&
        Postings.dfCapKeep(lms.sparkSession, col("lm"), size(col("ds")), cap,
          solvedCap, autoCap))
      .select(explode(Postings.pairs(col("ds"))).as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("c"))
      // minShared: an ABSOLUTE evidence floor under the relative
      // metric — a doc whose payload yields only a handful of
      // landmarks (a crop retaining 3 coarse peaks = 3 codes) can
      // spuriously reach match_frac 1.0 on structurally-common codes
      // alone; requiring c >= minShared prunes those the way
      // audio-fingerprint systems require a minimum absolute hit
      // count. 0 (default) preserves the pure relative metric.
      .filter(col("c") >= math.max(1, minShared))
    Postings.overSmaller(counts,
      lms.groupBy(col("doc_id")).agg(count(lit(1)).as("nl")), minMatch)
  }

  /** Distinct codes pooled per VIDEO document over every `every`-th
    * container frame (`codes` maps one frame's bytes to its codes), as
    * (doc_id, lm) rows in first-emission order: the one container walk
    * of the pooled video landmark tiers. */
  private def pooledFrameCodes(media: DataFrame, every: Int)(
      codes: Array[Byte] => IterableOnce[Long])(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val set = scala.collection.mutable.LinkedHashSet.empty[Long]
            fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .foreach(f => set ++= codes(f._1))
            set.iterator.map(lm => (r.doc_id, lm))
          case None => Iterator.empty
        }
      }).toDF("doc_id", "lm")
  }

  /** PEAK-PATCH landmarks for VIDEO — the m136 tier lifted to the
    * frame sequence (the m138 leg): every sampled frame decodes once
    * into its content-anchored peak hashes, pooled DISTINCT per doc.
    * A re-upload cropped at ANY offset (and leading-trimmed —
    * pooling is order-free) keeps each shared frame's interior peaks
    * bit-exactly, while every whole-frame and canonical-window video
    * tier misses: a non-window crop changes every frame hash AND
    * aligns with no window channel. One mapPartitions pass, no
    * shuffle. */
  def videoPeakLandmarks(media: DataFrame, every: Int,
      radius: Int, patch: Int, k: Int)(
      implicit s: SparkSession): DataFrame = {
    pooledFrameCodes(media, every)(b =>
      peakPatchHashes(b, radius, patch, k).getOrElse(Nil))
  }

  /** Gray-coded 4-bit quantization table: adjacent luma levels differ
    * by ONE bit, so a quantization-boundary crossing under JPEG noise
    * costs one hamming bit, not up to four. */
  private val grayCode4: Array[Long] =
    Array(0, 1, 3, 2, 6, 7, 5, 4, 12, 13, 15, 14, 10, 11, 9, 8)

  /** 64-bit GRAY-MEAN descriptor per peak — the LOSSY-tolerant form
    * of the peak tier (the m141 leg): a 4x4 grid of box means over
    * the (2*patchDesc+1)^2 neighborhood, each mean quantized to 16
    * luma levels and GRAY-coded into 4 bits (16 cells x 4 b = 64 b).
    * Cell boundaries derive from PATCH-LOCAL coordinates with the
    * [[grid32Window]] integer arithmetic, so a lossless translation
    * (any crop) reproduces the descriptor BIT-EXACTLY (dist 0);
    * JPEG quantization noise — which kills the exact patch hashes
    * wholesale — averages out inside the cells and flips <= ~2 bits
    * at encode quality >= 0.88 (measured; one bit per cell whose
    * mean sits on a 16-level boundary). Peak POSITIONS hold exactly
    * at quality >= 0.9. Mean VALUES (not mean-relative signs) carry
    * the content's phase, keeping unrelated patches far. Rows are
    * (peak_idx, descriptor): the index is detection-order identity
    * for distinct-matched counting, never compared across images. */
  private[operators] def peakBlockDescriptors(payload: Array[Byte],
      radius: Int = 2, patchDesc: Int = 8): Option[Seq[(Int, Long)]] =
    decodeImage(payload).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val luma = lumaPlane(img)
      val s = 2 * patchDesc + 1
      peakCells(luma, w, h, radius, patchDesc).zipWithIndex.map {
        case ((x, y, _), idx) =>
          var b = 0L
          var cy = 0
          while (cy < 4) {
            var cx = 0
            while (cx < 4) {
              val x0 = x - patchDesc + cx * s / 4
              val x1 = x - patchDesc + math.max((cx + 1) * s / 4, cx * s / 4 + 1)
              val y0 = y - patchDesc + cy * s / 4
              val y1 = y - patchDesc + math.max((cy + 1) * s / 4, cy * s / 4 + 1)
              var acc = 0L
              var n = 0
              var yy = y0
              while (yy < y1) {
                var xx = x0
                while (xx < x1) { acc += luma(yy * w + xx) & 0xff; n += 1; xx += 1 }
                yy += 1
              }
              val lvl = math.min(15, (acc.toDouble / n / 16).toInt)
              b |= (grayCode4(lvl) << ((cy * 4 + cx) * 4))
              cx += 1
            }
            cy += 1
          }
          (idx, b)
      }.toSeq
    }

  /** Shared pair scorer of the gray-mean descriptor tiers: `rows` is
    * (doc_id, pk, d) with d a 64-bit descriptor; candidates via the
    * pHash 4x16-bit chunk equi-join (complete for hamming <= 3),
    * verified with one bit_count, scored as DISTINCT matched peaks
    * over the SMALLER side's peak count. */
  private def descriptorChunkPairScores(rows: DataFrame,
      minMatch: Double, maxDist: Int, maxDf: Int): DataFrame = {
    val nl = rows.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    val capped = Postings.capDf(Postings.chunks16(rows, "d"),
      Seq("chunk", "ckey"), maxDf, distinctDocs = true)
    val cand = capped.select(col("doc_id").as("doc_a"), col("pk").as("pk_a"),
        col("d").as("da"), col("chunk"), col("ckey"))
      .join(capped.select(col("doc_id").as("doc_b"), col("pk").as("pk_b"),
        col("d").as("db"), col("chunk"), col("ckey")),
        Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "pk_a", "doc_b", "pk_b")
      .filter(bit_count(col("da").bitwiseXOR(col("db"))) <= maxDist)
    cand.groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("pk_a")).as("ca"),
        countDistinct(col("pk_b")).as("cb"))
      .join(nl.select(col("doc_id").as("doc_a"), col("nl").as("na")),
        Seq("doc_a"))
      .join(nl.select(col("doc_id").as("doc_b"), col("nl").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(when(col("na") <= col("nb"),
            col("ca").cast("double") / col("na"))
          .otherwise(col("cb").cast("double") / col("nb")), 6)
          .as("match_frac"))
      .filter(col("match_frac") >= minMatch)
  }

  /** Version stamp for the GRAY-MEAN peak descriptor family
    * ([[peakBlockDescriptors]] — detection core, cell grid,
    * quantization, gray table): namespaced (peak-desc = 10000 + v);
    * 10001 = v1. Distinct from the exact-hash peak family's 9001 —
    * the two produce incomparable values and must never cross-screen.
    * Parameters (radius, patchDesc, maxDist) are build/screen
    * choices, not covered. */
  val PeakDescFpVersion: Int = 10001

  /** Persisted GRAY-MEAN descriptor index — the incremental member of
    * the m141 lossy-crop tier: one row per (descriptor chunk slot,
    * chunk value, doc, peak) — the [[pHashChunkIndex]] layout at the
    * peak seam, 4 rows per peak — with the doc's peak count riding
    * along, stamped [[PeakDescFpVersion]].
    * [[dedupAgainstImagePeakLossyIndex]] screens an ingest batch: a
    * JPEG-saved crop of a corpus master is caught with no corpus
    * re-decode. [[IncrementalIndex.append]]-compatible. */
  def imagePeakLossyIndex(media: DataFrame,
      f: PeakLossy = PeakLossy()): DataFrame = {
    val rows = f.descriptors(Materialize.eager(f.landmarks(media)))
    Postings.chunks16(
        rows.join(rows.groupBy(col("doc_id")).agg(count(lit(1)).as("nl")),
          Seq("doc_id")).select(col("doc_id"), col("pk"), col("d"), col("nl")),
        "d")
      .select(col("chunk"), col("ckey"), col("doc_id"), col("pk"), col("d"),
        col("nl"), lit(PeakDescFpVersion).as("fp_ver"))
  }

  /** Screen an ingest batch against a pre-built
    * [[imagePeakLossyIndex]]: the batch computes its descriptors
    * once, equi-joins the index on (chunk slot, chunk value),
    * verifies candidates with one `bit_count` <= maxDist, and a probe
    * duplicates the lowest corpus doc whose DISTINCT matched peaks
    * over the smaller side reach `minMatch` (the m141 metric; screen
    * with the maxDist you validated for your quality floor).
    * Enforces [[PeakDescFpVersion]]. */
  def dedupAgainstImagePeakLossyIndex(media: DataFrame, index: DataFrame,
      minMatch: Double = 0.75, maxDist: Int = 1,
      f: PeakLossy = PeakLossy()): DataFrame = {
    requireChunkRecall(maxDist)
    Postings.requireStamp(index,
      Postings.Stamp(PeakDescFpVersion, "peak-desc", "imagePeakLossyIndex"))
    val rows = f.descriptors(Materialize.eager(f.landmarks(media)))
    val nl = rows.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    val cand = Postings.chunks16(rows, "d").join(
        index.select(col("chunk"), col("ckey"), col("doc_id").as("src"),
          col("pk").as("pk_src"), col("d").as("d_src"),
          col("nl").as("nl_src")),
        Seq("chunk", "ckey"))
      .dropDuplicates("doc_id", "pk", "src", "pk_src")
      .filter(bit_count(col("d").bitwiseXOR(col("d_src"))) <= maxDist)
    val dup = cand.groupBy(col("doc_id"), col("src"), col("nl_src"))
      .agg(countDistinct(col("pk")).as("cp"),
        countDistinct(col("pk_src")).as("cs"))
      .join(nl, Seq("doc_id"))
      .filter(when(col("nl") <= col("nl_src"),
          col("cp").cast("double") / col("nl"))
        .otherwise(col("cs").cast("double") / col("nl_src")) >= minMatch)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(nl.select(col("doc_id")), dup)
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

  /** Version stamp for the PEAK-PATCH landmark family
    * ([[peakPatchHashes]] — smoothing kernel, strict-max rule, patch
    * hash): namespaced (peak = 9000 + v; the family convention) so
    * cross-family screens fail fast at every version pair; 9001 = v1.
    * Parameter choices (radius, patch, k) are NOT covered — screen
    * with the parameters the index was built with. */
  val PeakFpVersion: Int = 9001

  // ---- IMAGE: similarity-invariant peak constellations (crop+RESIZE) --

  /** Coarse-scale peak cells for the SIMILARITY-INVARIANT
    * constellation tier: strict local maxima of the
    * (2*smoothR+1)^2 box-SUM of the luma plane (integral-image,
    * integer-exact) over a Chebyshev `radius` neighborhood, with
    * full support margin. The wide window (default 9x9 vs the patch
    * tier's 3x3) targets BLOB CENTERS of large-scale structure —
    * positions that move by ~the resampling subpixel error under a
    * moderate uniform resize, where the fine-scale peak field is
    * destroyed outright by interpolation. */
  private[operators] def coarsePeakCells(luma: Array[Byte], w: Int,
      h: Int, smoothR: Int, radius: Int,
      minAvg: Int = 24): scala.collection.mutable.ArrayBuffer[(Int, Int, Int)] = {
    val ii = new Array[Int]((w + 1) * (h + 1))
    var y = 0
    while (y < h) {
      var rowSum = 0
      var x = 0
      while (x < w) {
        rowSum += luma(y * w + x) & 0xff
        ii((y + 1) * (w + 1) + (x + 1)) = ii(y * (w + 1) + (x + 1)) + rowSum
        x += 1
      }
      y += 1
    }
    @inline def boxSum(x: Int, yy: Int): Int = {
      val x0 = x - smoothR; val x1 = x + smoothR + 1
      val y0 = yy - smoothR; val y1 = yy + smoothR + 1
      ii(y1 * (w + 1) + x1) - ii(y0 * (w + 1) + x1) -
        ii(y1 * (w + 1) + x0) + ii(y0 * (w + 1) + x0)
    }
    val margin = smoothR + radius
    // prominence floor: a strict maximum of the near-flat FLOOR field
    // (blob tails + encode rounding) is real but resampling-fragile —
    // requiring a minimum window AVERAGE keeps only structure peaks,
    // whose centers interpolation re-finds within subpixel error
    val minFloor = minAvg * (2 * smoothR + 1) * (2 * smoothR + 1)
    val peaks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    y = margin
    while (y < h - margin) {
      var x = margin
      while (x < w - margin) {
        val v = boxSum(x, y)
        // maximum under a TOTAL order (value, then raster position):
        // a flat apex whose adjacent box-sums TIE after int rounding
        // has no strict maximum at all — both cells suppress each
        // other and the blob vanishes, on whichever side of a resize
        // the tie happens to land (subpixel phase decides). Breaking
        // ties toward the earlier raster cell keeps exactly one peak
        // per plateau, trading blob LOSS for <=1px position jitter,
        // which the constellation quantizer already absorbs.
        var isMax = true
        var dy = -radius
        while (isMax && dy <= radius) {
          var dx = -radius
          while (isMax && dx <= radius) {
            if (dx != 0 || dy != 0) {
              val nv = boxSum(x + dx, y + dy)
              if (nv > v || (nv == v && (dy < 0 || (dy == 0 && dx < 0))))
                isMax = false
            }
            dx += 1
          }
          dy += 1
        }
        if (isMax && v >= minFloor) peaks += ((x, y, v))
        x += 1
      }
      y += 1
    }
    peaks
  }

  /** Similarity-invariant constellation codes over the `kTop`
    * strongest coarse peaks: for each anchor peak A and each ordered
    * triple (B, C, D) of its `nNear` nearest co-peaks (ordered by
    * distance, so |AB| <= |AC| <= |AD| up to jitter), pack the
    * quantized invariants of the QUAD — round(log(|AC|/|AB|)/qStepR)
    * and round(log(|AD|/|AB|)/qStepR) (scale cancels in the ratios;
    * the audio interval tier's quantizer, m120, in 2D) and the three
    * DIRECTION angles of A->B / A->C / A->D in `nAng` bins
    * (translation+uniform-scale invariant; deliberately NOT
    * rotation-normalized — the dihedral fan covers rotations, this
    * tier covers the crop+resize compound, which never rotates) plus
    * two chirality bits. Quantization is plain rounding with no
    * boundary fan: resampling jitter flips SOME codes and the pair
    * metric absorbs it via match_frac over many landmarks, exactly
    * the interval tier's robustness model. All transcendentals via
    * StrictMath — bit-reproducible across JVMs, so codes are
    * index-stable. See [[constellationCodesOriented]] for why quads,
    * not triples (corpus-scale code entropy). */
  private[operators] def constellationCodes(
      cells: scala.collection.Seq[(Int, Int, Int)], kTop: Int,
      nNear: Int, qStepR: Double, nAng: Int): Iterator[Long] =
    constellationCodesOriented(cells, kTop, nNear, qStepR, nAng,
      orients = 1).map(_._2)

  /** Dihedral element `o` applied to a peak-delta VECTOR (x, y) —
    * the linear parts of the 8 square symmetries (0 = identity,
    * 1-3 quarter turns, 4-7 reflections). Distances are invariant
    * (isometries), so only the angle/chirality components of a
    * constellation code change under the fan. */
  @inline private def dihVecX(x: Int, y: Int, o: Int): Int = (o: @annotation.switch) match {
    case 1 => y; case 2 => -x; case 3 => -y
    case 4 => -x; case 5 => y; case 6 => x; case 7 => -y
    case _ => x
  }
  @inline private def dihVecY(x: Int, y: Int, o: Int): Int = (o: @annotation.switch) match {
    case 1 => -x; case 2 => -y; case 3 => x
    case 4 => y; case 5 => x; case 6 => -y; case 7 => -x
    case _ => y
  }

  /** [[constellationCodes]] under the first `orients` dihedral
    * readouts — (orient, code) rows, orient 0 bit-identical to the
    * natural codes. Peak detection and QUAD selection happen once
    * (both are dihedral-invariant up to plateau/neighbor tie-breaks);
    * only the direction angles and the chirality bits transform, via
    * [[dihVecX]]/[[dihVecY]] on the three quad vectors. For ANY
    * rotation/mirror `g` applied to the IMAGE, the transformed
    * image's readout under the element undoing `g` equals the
    * original's natural codes — the probe-side orientation fan the
    * dihedral pHash/peak tiers use, at the constellation seam.
    *
    * The code is a QUAD (anchor A + 3 distance-ordered co-peaks
    * B, C, D), not a triple: the v1 triple form (two log-ratios +
    * two angles + chirality) had ~1e5 EFFECTIVE values on natural
    * peak layouts — nearest-neighbor triangles are structurally
    * common — and the 32k-doc ScaleCheck sweep collapsed to ~0%
    * planted recall as virtually every code blew past the maxDf hot-
    * bucket cap (the audioOnset single-code-skew lesson, in 2D).
    * Quads pack two independent log distance-ratios
    * (|AC|/|AB|, |AD|/|AB|), THREE direction angles, and two
    * chirality bits — ~5e6 effective values, holding average df at
    * single digits at the 32k tier with per-pair jitter still
    * absorbed by match_frac over many codes. */
  private[operators] def constellationCodesOriented(
      cells: scala.collection.Seq[(Int, Int, Int)], kTop: Int,
      nNear: Int, qStepR: Double, nAng: Int,
      orients: Int = 8): Iterator[(Int, Long)] = {
    val top = cells.sortBy { case (x, y, v) => (-v, x, y) }.take(kTop)
    val lms = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
    val binW = 2.0 * math.Pi / nAng
    top.foreach { case (ax, ay, _) =>
      val nbrs = top.iterator
        .filter { case (bx, by, _) => bx != ax || by != ay }
        .map { case (bx, by, _) =>
          val dx = (bx - ax).toDouble; val dy = (by - ay).toDouble
          (dx * dx + dy * dy, bx, by)
        }.toArray.sortBy { case (d2, bx, by) => (d2, bx, by) }
        .take(nNear)
      var i = 0
      while (i < nbrs.length) {
        var j = i + 1
        while (j < nbrs.length) {
          var k = j + 1
          while (k < nbrs.length) {
            val (d2b, bx, by) = nbrs(i)
            val (d2c, cx, cy) = nbrs(j)
            val (d2d, dx, dy) = nbrs(k)
            val qr1 = math.round(
              StrictMath.log(StrictMath.sqrt(d2c / d2b)) / qStepR)
            val qr2 = math.round(
              StrictMath.log(StrictMath.sqrt(d2d / d2b)) / qStepR)
            if (qr1 >= 0L && qr1 <= 63L && qr2 >= 0L && qr2 <= 63L) {
              var o = 0
              while (o < orients) {
                val abx = dihVecX(bx - ax, by - ay, o)
                val aby = dihVecY(bx - ax, by - ay, o)
                val acx = dihVecX(cx - ax, cy - ay, o)
                val acy = dihVecY(cx - ax, cy - ay, o)
                val adx = dihVecX(dx - ax, dy - ay, o)
                val ady = dihVecY(dx - ax, dy - ay, o)
                val angB = StrictMath.atan2(aby.toDouble, abx.toDouble)
                val angC = StrictMath.atan2(acy.toDouble, acx.toDouble)
                val angD = StrictMath.atan2(ady.toDouble, adx.toDouble)
                val qa = (((angB + math.Pi) / binW).toLong % nAng + nAng) % nAng
                val qb = (((angC + math.Pi) / binW).toLong % nAng + nAng) % nAng
                val qc = (((angD + math.Pi) / binW).toLong % nAng + nAng) % nAng
                // chirality of (AB, AC) and (AB, AD): similarity-
                // invariant, jitter-stable except near-collinear; both
                // flip under the four reflections (det -1), which is
                // exactly what keeps the mirrored readouts distinct
                val s1 = if (abx.toLong * acy - aby.toLong * acx > 0L) 1L
                  else 0L
                val s2 = if (abx.toLong * ady - aby.toLong * adx > 0L) 1L
                  else 0L
                lms += ((o,
                  ((((qr1 * 64L + qr2) * nAng + qa) * nAng + qb) * nAng
                    + qc) * 4L + s1 * 2L + s2))
                o += 1
              }
            }
            k += 1
          }
          j += 1
        }
        i += 1
      }
    }
    lms.iterator
  }

  /** Constellation landmarks per document — decode once, coarse peak
    * detection, similarity-invariant triple codes. One mapPartitions
    * pass, no shuffle; payloads that are undecodable or yield fewer
    * than 4 coarse peaks emit nothing (the family contract — the
    * exact peak tier covers unresized content, pHash covers
    * structureless content). */
  def imageScaleLandmarks(media: DataFrame, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(kTop >= 4, "kTop must be >= 4 (a constellation is a quad)")
    require(nNear >= 3 && nNear <= 16, "nNear must be in 3..16 (a quad needs three co-peaks)")
    require(qStepR > 0.0, "qStepR must be > 0")
    require(nAng >= 4 && nAng <= 64, "nAng must be in 4..64")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            constellationCodes(
              coarsePeakCells(lumaPlane(img), img.getWidth,
                img.getHeight, smoothR, radius, minAvg), kTop, nNear,
              qStepR, nAng).map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** Version stamp for the CONSTELLATION landmark family
    * ([[imageScaleLandmarks]] — coarse peak detection, triple
    * selection, invariant quantization, packing): namespaced
    * (constellation = 11000 + v) so cross-family screens fail fast at
    * every version pair; 11002 = v2 (QUAD codes — v1's triple codes
    * saturated their effective value space at corpus scale and never
    * shipped past a round-11 working commit). Parameter choices
    * (kTop, nNear, qStepR, nAng, smoothR, radius) are NOT covered —
    * screen with the parameters the index was built with. */
  val ScaleFpVersion: Int = 11002

  /** Shared landmark index screen of every `lm`-keyed (and the audio
    * (frame_idx, code)-keyed) index family: fail-fast
    * [[Postings.requireStamp]] (before `lms` is evaluated, so a stale
    * index never pays for the probe decode), probe rows equi-join the
    * index on `keys`, a (probe, src) candidate's shared count `c` must
    * reach the absolute floor `minShared` (the [[peakLandmarkPairScores]]
    * floor; 0 and 1 mean any) and `c` over the smaller of the two docs'
    * counts must reach `minMatch`; dup_src = the lowest matching corpus
    * doc. The index's per-doc count column is `nl` (`nf` on the audio
    * code indexes). `per` lists index columns that split a corpus doc
    * into channels counted separately (the video crop index's `win`).
    *
    * Probe rows with an `orient` column are a readout FAN (dihedral,
    * aspect, squeeze, mirror): every readout scores separately, over
    * the probe's IDENTITY (orient 0) count — the convention
    * [[orientedLandmarkPairScores]] uses and the fan gates were
    * calibrated on: a readout's own code count can differ from
    * identity (quantizer-range dropouts), and a small per-orient count
    * inflates c / least(nl, nl_src) into false flags near the gate.
    * Payloads yielding NO landmarks are absent from the output, not
    * judged kept (the family contract). */
  private def screenLandmarkIndex(lms: => DataFrame, index: DataFrame,
      minMatch: Double, minShared: Int, stamp: Postings.Stamp,
      keys: Seq[String] = Seq("lm"), per: Seq[String] = Nil): DataFrame = {
    Postings.requireStamp(index, stamp)
    val probes = lms
    val n = if (index.columns.contains("nf")) "nf" else "nl"
    val fan = probes.columns.contains("orient")
    val sizes = (if (fan) probes.filter(col("orient") === 0) else probes)
      .groupBy(col("doc_id")).agg(count(lit(1)).as(n))
    val nSrc = s"${n}_src"
    val dup = probes.join(
        index.select(keys.map(col) ++ per.map(c => col(c).as("src_" + c)) ++
          Seq(col("doc_id").as("src"), col(n).as(nSrc)): _*),
        keys)
      .groupBy((Seq("doc_id") ++ Seq("orient").filter(_ => fan) ++
        Seq("src") ++ per.map("src_" + _) :+ nSrc).map(col): _*)
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= math.max(1, minShared))
      .join(sizes, Seq("doc_id"))
      .filter(col("c").cast("double") / least(col(n), col(nSrc)) >= minMatch)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(
      if (fan) probes.select(col("doc_id")).distinct()
      else sizes.select(col("doc_id")), dup)
  }

  /** One (doc_id, orient, lm) row per dihedral readout of each
    * constellation code — the ROTATED/MIRRORED + crop + RESIZE
    * compound's probe table ([[constellationCodesOriented]], one
    * decode and one peak-detection pass for all 8 readouts: only the
    * angle/chirality components transform). */
  def imageScaleLandmarksOriented(media: DataFrame, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(kTop >= 4, "kTop must be >= 4 (a constellation is a quad)")
    require(nNear >= 3 && nNear <= 16, "nNear must be in 3..16 (a quad needs three co-peaks)")
    require(qStepR > 0.0, "qStepR must be > 0")
    require(nAng >= 4 && nAng <= 64, "nAng must be in 4..64")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            constellationCodesOriented(
              coarsePeakCells(lumaPlane(img), img.getWidth,
                img.getHeight, smoothR, radius, minAvg), kTop, nNear,
              qStepR, nAng).map { case (o, lm) => (r.doc_id, o, lm) }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "orient", "lm")
  }

  // ---- IMAGE: aspect-squeeze hypothesis fan (anisotropic resize) ---

  /** One (doc_id, hyp, lm) row per ASPECT-HYPOTHESIS readout of each
    * constellation code — the anisotropic-resize (aspect-squeeze)
    * compound's probe table: a 4:3 master displayed/reposted at 16:9
    * stretches every x by 4/3, which breaks BOTH distances and
    * angles, so no similarity-invariant code can ride through it.
    * Instead the probe re-detects its peaks, then for each hypothesis
    * factor g re-renders the peak GEOMETRY with x scaled by g
    * (rounding to the integer grid costs <= 0.5 px — inside the
    * family's jitter model) and emits the plain quad codes of that
    * geometry: the hypothesis undoing the squeeze reproduces the
    * master's natural codes. hyps(0) MUST be 1.0 (the identity row is
    * what registers in state/indexes — the m140/m145 asymmetric fan
    * shape). Peak detection happens ONCE; hypotheses only transform
    * coordinates. */
  def imageScaleLandmarksAspect(media: DataFrame, hyps: Seq[Double], kTop: Int,
      nNear: Int, qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(hyps.nonEmpty && hyps.head == 1.0,
      "hyps(0) must be the identity 1.0 (the registering readout)")
    require(hyps.forall(g => g > 0.0), "hypothesis factors must be > 0")
    require(kTop >= 4, "kTop must be >= 4 (a constellation is a quad)")
    require(nNear >= 3 && nNear <= 16, "nNear must be in 3..16 (a quad needs three co-peaks)")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            val cells = coarsePeakCells(lumaPlane(img), img.getWidth,
              img.getHeight, smoothR, radius, minAvg)
            hyps.iterator.zipWithIndex.flatMap { case (g, hi) =>
              val t =
                if (g == 1.0) cells
                else cells.map { case (x, y, v) =>
                  (math.round(g * x).toInt, y, v) }
              constellationCodes(t, kTop, nNear, qStepR, nAng)
                .map(lm => (r.doc_id, hi, lm))
            }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "orient", "lm")
  }

  /** Normalize a peak cloud to ISOTROPIC second moments — the m160
    * kernel (unknown-anisotropy estimation): an anisotropic resize by
    * g scales every peak x by g, so the cloud's x-spread scales by
    * exactly g while y-spread is untouched — sqrt(varX/varY) measures
    * the doc's squeeze state up to its own natural anisotropy, and
    * mapping EVERY doc (master at index time, probe at screen time)
    * to the canonical isotropic frame — x scaled by (varY/varX)^(1/4),
    * y by the inverse, so the geometric mean scale is preserved and
    * per-axis rounding error stays near half a pixel — sends a master
    * and its arbitrarily-squeezed re-render to the SAME normalized
    * geometry without ever knowing g. This replaces the aspect fan's
    * exact-hypothesis enumeration for squeezes OUTSIDE the
    * display-conversion set (the fan's log-ratio bins absorb only
    * ~±7% around each hypothesis — the round-11 declared limit);
    * the fan remains the verify tier for its exact factors.
    * Estimator noise comes only from peak-set differences between
    * renditions (border losses, merges): a few peaks of ~10-16 move
    * the moment ratio by low single-digit percent, which the
    * constellation quantizer's angle bins (15 degrees) absorb. */
  private[operators] def isotropicNormalize(
      cells: scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]
      ): scala.collection.mutable.ArrayBuffer[(Int, Int, Int)] = {
    val n = cells.length
    if (n < 3) return cells
    var sx = 0.0; var sy = 0.0
    cells.foreach { case (x, y, _) => sx += x; sy += y }
    val mx = sx / n; val my = sy / n
    var vx = 0.0; var vy = 0.0
    cells.foreach { case (x, y, _) =>
      vx += (x - mx) * (x - mx); vy += (y - my) * (y - my)
    }
    if (vx <= 0.0 || vy <= 0.0) return cells
    val fx = StrictMath.pow(vy / vx, 0.25)
    val fy = 1.0 / fx
    cells.map { case (x, y, v) =>
      (math.round(fx * x).toInt, math.round(fy * y).toInt, v)
    }
  }

  /** Constellation codes over the ISOTROPIC-NORMALIZED peak cloud —
    * the UNKNOWN-anisotropy member of the scale family (m160): every
    * doc's geometry is [[isotropicNormalize]]d before quad coding, so
    * a squeeze by ANY factor (not just the fan's hypotheses) cancels
    * on both sides. A distinct landmark family from
    * [[imageScaleLandmarks]] (normalized masters code differently
    * than natural ones — never mix the two in one index). */
  def imageScaleLandmarksNormalized(media: DataFrame, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(kTop >= 4, "kTop must be >= 4 (a constellation is a quad)")
    require(nNear >= 3 && nNear <= 16, "nNear must be in 3..16 (a quad needs three co-peaks)")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            constellationCodes(
              isotropicNormalize(coarsePeakCells(lumaPlane(img),
                img.getWidth, img.getHeight, smoothR, radius, minAvg)),
              kTop, nNear, qStepR, nAng).map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** Luma-weighted x-spread / y-spread moments of an image — the
    * squeeze estimator of the CANONICAL tier: weights are
    * max(0, luma - mean) (the structure above the floor; a constant
    * floor would pull both spreads toward the uniform w/sqrt(12) and
    * dilute the estimate), and the returned factor s = sdY/sdX
    * rescales x so the canonical rendering has equal spreads. An
    * anisotropic resize by g multiplies sdX by 1/g and leaves sdY, so
    * master and squeezed probe both land on the SAME canonical frame
    * (up to resampling noise the quad quantizer absorbs); a UNIFORM
    * resize scales both spreads equally and cancels. */
  private[operators] def lumaMomentScale(luma: Array[Byte], w: Int,
      h: Int): Double = {
    var sum = 0L
    var i = 0
    while (i < luma.length) { sum += luma(i) & 0xff; i += 1 }
    val mean = sum.toDouble / luma.length
    var tw = 0.0; var mx = 0.0; var my = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (luma(y * w + x) & 0xff) - mean
        if (v > 0) { tw += v; mx += v * x; my += v * y }
        x += 1
      }
      y += 1
    }
    if (tw <= 0) return 1.0
    val cx = mx / tw; val cy = my / tw
    var vx = 0.0; var vy = 0.0
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (luma(y * w + x) & 0xff) - mean
        if (v > 0) {
          val dx = x - cx; val dy = y - cy
          vx += v * dx * dx; vy += v * dy * dy
        }
        x += 1
      }
      y += 1
    }
    if (vx <= 0 || vy <= 0) 1.0 else math.sqrt(vy / vx)
  }

  /** Constellation landmarks over the CANONICAL (moment-isotropic)
    * rendering — the STRONG-squeeze tier: [[lumaMomentScale]]
    * estimates the x-rescale that equalizes the luma spreads, the
    * image itself resamples through the deterministic bilinear kernel
    * ([[cropResizeRgb]]), and detection + quad coding run on the
    * canonical pixels. Because detection happens AFTER de-squeezing,
    * blobs that MERGED under a >= ~1.5:1 squeeze separate again —
    * the class where both the peak-cloud normalization (m160) and
    * the explicit hypothesis fan (m152) lose the peak set itself
    * (round-12 measurement: at 1.5-1.7:1 both score < 0.07 on half
    * the blob corpus). Near-identity estimates skip the resample
    * (|s - 1| <= ~2% — one quantizer step at the default qStepR),
    * keeping masters' codes bit-identical to the plain scale tier's
    * on isotropic-moment content. */
  /** Canonical-rendering constellation codes of ONE decoded image —
    * the shared kernel of the m165 family (pairs, index, streaming,
    * and the video pooling): moment estimate, conditional resample,
    * detection, quad coding. */
  private def canonicalCodes(img0: java.awt.image.BufferedImage,
      kTop: Int, nNear: Int, qStepR: Double, nAng: Int, smoothR: Int,
      radius: Int, minAvg: Int): Iterator[Long] = {
    val w0 = img0.getWidth; val h0 = img0.getHeight
    val sc = lumaMomentScale(lumaPlane(img0), w0, h0)
    // always UPSCALE the squeezed axis (x when sc >= 1, y
    // otherwise): downscaling the wide axis instead would
    // shrink the canonical rendering below the fixed detector
    // scale and merge blobs all over again (a y-squeezed probe
    // measured 0.264 under x-downscaling vs 1.0 here)
    val img =
      if (math.abs(sc - 1.0) <= 0.02) img0
      else if (sc >= 1.0) cropResizeRgb(img0, 0, 0, w0, h0,
        math.min(4 * w0, math.round(w0 * sc).toInt), h0)
      else cropResizeRgb(img0, 0, 0, w0, h0, w0,
        math.min(4 * h0, math.round(h0 / sc).toInt))
    constellationCodes(
      coarsePeakCells(lumaPlane(img), img.getWidth,
        img.getHeight, smoothR, radius, minAvg),
      kTop, nNear, qStepR, nAng)
  }

  def imageScaleLandmarksCanonical(media: DataFrame, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(kTop >= 4, "kTop must be >= 4 (a constellation is a quad)")
    require(nNear >= 3 && nNear <= 16, "nNear must be in 3..16 (a quad needs three co-peaks)")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img0) =>
            canonicalCodes(img0, kTop, nNear, qStepR, nAng, smoothR,
              radius, minAvg).map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** CANONICAL constellation landmarks pooled per VIDEO document —
    * the m165 tier lifted to the frame sequence (the m147 pooling
    * shape): every sampled frame renders to its own moment-isotropic
    * canonical before detection, so an ANAMORPHIC rip at an UNKNOWN
    * factor (the class the m156 aspect fan covers only for enumerated
    * display conversions) lands where both the plain and fan video
    * constellation tiers miss. One container walk, codes pooled
    * DISTINCT; per-frame estimates are independent, which a constant
    * anamorphic squeeze leaves aligned across frames. */
  def videoScaleLandmarksCanonical(media: DataFrame, every: Int, kTop: Int,
      nNear: Int, qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    require(kTop >= 4, "kTop must be >= 4 (a constellation is a quad)")
    require(nNear >= 3 && nNear <= 16, "nNear must be in 3..16 (a quad needs three co-peaks)")
    pooledFrameCodes(media, every)(b =>
      decodeImage(b).iterator.flatMap(canonicalCodes(_, kTop, nNear, qStepR,
        nAng, smoothR, radius, minAvg)))
  }

  /** Luma-weighted PRINCIPAL-AXIS angle (radians, the major
    * covariance eigenvector's angle to the x axis) — the rotation
    * half of the FULL-AFFINE whitening: theta =
    * atan2(2*vxy, vxx - vyy) / 2 diagonalizes the central second
    * moments, so rotating by -theta maps the principal axes onto
    * x/y and the axis-aligned [[lumaMomentScale]] step can finish
    * the whitening. Near-degenerate eigenvalues make theta
    * ill-defined — harmless, because the downstream codes are
    * rotation-invariant and ANY whitening rotation is acceptable. */
  private[operators] def lumaPrincipalAngle(luma: Array[Byte], w: Int,
      h: Int): Double = {
    var sum = 0L
    var i = 0
    while (i < luma.length) { sum += luma(i) & 0xff; i += 1 }
    val mean = sum.toDouble / luma.length
    var tw = 0.0; var mx = 0.0; var my = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (luma(y * w + x) & 0xff) - mean
        if (v > 0) { tw += v; mx += v * x; my += v * y }
        x += 1
      }
      y += 1
    }
    if (tw <= 0) return 0.0
    val cx = mx / tw; val cy = my / tw
    var vx = 0.0; var vy = 0.0; var vxy = 0.0
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (luma(y * w + x) & 0xff) - mean
        if (v > 0) {
          val dx = x - cx; val dy = y - cy
          vx += v * dx * dx; vy += v * dy * dy; vxy += v * dx * dy
        }
        x += 1
      }
      y += 1
    }
    0.5 * StrictMath.atan2(2.0 * vxy, vx - vy)
  }

  /** FULL-AFFINE canonical constellation landmarks — rotation x
    * anisotropic squeeze x uniform scale, ALL unknown (the
    * anamorphic rip of a tilted re-render — the compound every prior
    * tier measures 0/4 on: the rot-invariant codes assume uniform
    * scale, and the axis-aligned canonical tier assumes unrotated
    * axes). Whitening: rotate by the luma-covariance principal angle
    * ([[lumaPrincipalAngle]] — the rotation that diagonalizes the
    * second moments), then equalize the now-axis-aligned spreads
    * ([[lumaMomentScale]], upscaling the squeezed axis). Master and
    * probe both land on an isotropic-covariance rendering; whitening
    * is defined only up to a residual ROTATION, so the codes are the
    * ROTATION-INVARIANT 5-point form ([[constellationCodesRot]]),
    * which also absorbs the residual uniform scale. Rotation clipping
    * costs corner peaks only (same-canvas inverse-map kernel); the
    * relative metric rides on the surviving interior set. */
  def imageScaleLandmarksAffine(media: DataFrame, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(kTop >= 5, "kTop must be >= 5 (a rot constellation is a 5-point code)")
    require(nNear >= 4 && nNear <= 16, "nNear must be in 4..16 (a rot code needs four co-peaks)")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img0) =>
            affineCanonicalCodesRot(img0, kTop, nNear, qStepR, nAng,
              smoothR, radius, minAvg).map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** The full-affine whitening + rot-code kernel of ONE decoded
    * image ([[imageScaleLandmarksAffine]]). */
  /** Luma-weighted central covariance (vxx, vyy, vxy), normalized by
    * total weight — the FULL second-moment matrix behind
    * [[lumaPrincipalAngle]]/[[lumaMomentScale]], for the one-shot
    * symmetric whitening. */
  private def lumaCovariance(luma: Array[Byte], w: Int,
      h: Int): (Double, Double, Double) = {
    var sum = 0L
    var i = 0
    while (i < luma.length) { sum += luma(i) & 0xff; i += 1 }
    val mean = sum.toDouble / luma.length
    var tw = 0.0; var mx = 0.0; var my = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (luma(y * w + x) & 0xff) - mean
        if (v > 0) { tw += v; mx += v * x; my += v * y }
        x += 1
      }
      y += 1
    }
    if (tw <= 0) return (1.0, 1.0, 0.0)
    val cx = mx / tw; val cy = my / tw
    var vx = 0.0; var vy = 0.0; var vxy = 0.0
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (luma(y * w + x) & 0xff) - mean
        if (v > 0) {
          val dx = x - cx; val dy = y - cy
          vx += v * dx * dx; vy += v * dy * dy; vxy += v * dx * dy
        }
        x += 1
      }
      y += 1
    }
    (vx / tw, vy / tw, vxy / tw)
  }

  /** ONE-SHOT symmetric whitening resample: warp `img` by
    * W = sqrt(lmax) * C^(-1/2) (C the luma covariance, closed-form
    * 2x2 SPD square root), so the output's covariance is isotropic at
    * the LARGER eigenvalue's scale — upscale-only, no resolution
    * loss. C^(-1/2) is the UNIQUE symmetric whitener: two whitened
    * renderings of affinely-related content differ by a pure
    * rotation, which the rot-invariant codes absorb. (An iterated
    * rotate-then-equalize scheme was measured DIVERGENT here: once
    * the spreads equalize, the principal angle is vxy noise at
    * +-45 deg and every same-canvas re-rotation clips more content —
    * the probe's code set collapsed to 105 of 699.) Output canvas =
    * bounding box of the warped source corners (clamped 4x per axis),
    * inverse-map bilinear, out-of-source fill near-black. */
  private[operators] def affineWhitenRgb(
      img: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
    val (a, b, c) = lumaCovariance(lumaPlane(img), img.getWidth, img.getHeight)
    whitenRgbByCov(img, a, b, c)
  }

  /** The one-shot symmetric-whitening warp of [[affineWhitenRgb]]
    * with the 2x2 covariance (a=vxx, b=vyy, c=vxy) supplied by the
    * CALLER — the shared resample kernel of the global-covariance
    * (m169) and peak-local-covariance (m174) whiteners; only the
    * covariance ESTIMATOR differs between the tiers. */
  private[operators] def whitenRgbByCov(img: java.awt.image.BufferedImage,
      a: Double, b: Double, c: Double): java.awt.image.BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    val det = a * b - c * c
    if (det <= 1e-9) return img
    val sdet = StrictMath.sqrt(det)
    val tr = a + b
    val denom = StrictMath.sqrt(tr + 2.0 * sdet)
    // sqrt(C) = (C + sqrt(det) I) / sqrt(trace + 2 sqrt(det))
    val s00 = (a + sdet) / denom; val s11 = (b + sdet) / denom
    val s01 = c / denom
    // W0 = inv(sqrt(C)); scale by sqrt(lmax) so min singular value of
    // W is 1 (never downsample)
    val sdetS = s00 * s11 - s01 * s01
    val i00 = s11 / sdetS; val i11 = s00 / sdetS; val i01 = -s01 / sdetS
    val lmax = tr / 2.0 + StrictMath.sqrt(
      (a - b) * (a - b) / 4.0 + c * c)
    val g = StrictMath.sqrt(lmax)
    warpRgbByW(img, g * i00, g * i01, g * i01, g * i11)
  }

  /** Warp `img` by an arbitrary 2x2 matrix W about the canvas center —
    * the shared resample of the whitening family: output canvas =
    * bounding box of the warped source corners (clamped 4x per axis),
    * inverse-map bilinear, out-of-source fill near-black. Identity
    * within 2% is a no-op (keeps isotropic masters' codes bit-identical
    * to the unwhitened families'). */
  private[operators] def warpRgbByW(img: java.awt.image.BufferedImage,
      w00: Double, w01: Double, w10: Double,
      w11: Double): java.awt.image.BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    if (math.abs(w00 - 1.0) < 0.02 && math.abs(w11 - 1.0) < 0.02 &&
      math.abs(w01) < 0.02 && math.abs(w10) < 0.02) return img
    // output bounds: warped corners, centered
    val cxS = (w - 1) / 2.0; val cyS = (h - 1) / 2.0
    val xs = for (px <- Seq(0.0, w - 1.0); py <- Seq(0.0, h - 1.0))
      yield w00 * (px - cxS) + w01 * (py - cyS)
    val ys = for (px <- Seq(0.0, w - 1.0); py <- Seq(0.0, h - 1.0))
      yield w10 * (px - cxS) + w11 * (py - cyS)
    val outW = math.max(8, math.min(4 * w,
      StrictMath.ceil(xs.max - xs.min + 1).toInt))
    val outH = math.max(8, math.min(4 * h,
      StrictMath.ceil(ys.max - ys.min + 1).toInt))
    // inverse of W (for out -> src)
    val wdet = w00 * w11 - w01 * w10
    val n00 = w11 / wdet; val n01 = -w01 / wdet
    val n10 = -w10 / wdet; val n11 = w00 / wdet
    val cxO = (outW - 1) / 2.0; val cyO = (outH - 1) / 2.0
    val out = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var oy = 0
    while (oy < outH) {
      var ox = 0
      while (ox < outW) {
        val rx = ox - cxO; val ry = oy - cyO
        val sx = n00 * rx + n01 * ry + cxS
        val sy = n10 * rx + n11 * ry + cyS
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

  private def affineCanonicalCodesRot(img0: java.awt.image.BufferedImage,
      kTop: Int, nNear: Int, qStepR: Double, nAng: Int, smoothR: Int,
      radius: Int, minAvg: Int): Iterator[Long] = {
    val img = affineWhitenRgb(img0)
    constellationCodesRot(
      coarsePeakCells(lumaPlane(img), img.getWidth, img.getHeight,
        smoothR, radius, minAvg), kTop, nNear, qStepR, nAng)
  }

  /** Version stamp for the AFFINE-whitened rot-code family
    * ([[imageScaleLandmarksAffine]] — whitener, resample kernel,
    * detection, 5-point rot packing): namespaced (affine = 11200 + v);
    * 11201 = v1. Distinct from the plain rot family — whitened codes
    * of anisotropic content never match unwhitened ones. */
  val AffineFpVersion: Int = 11201

  /** Quantized AFFINE-INVARIANT local-frame codes — geometric
    * hashing with an affine basis (the classic model-based-vision
    * construction: Lamdan & Wolfson's geometric hashing, public
    * literature): for each anchor peak a, an (oriented) pair of its
    * nearest co-peaks (e1, e2) spans an affine basis, and any other
    * co-peak p = a + u*e1 + v*e2 has coordinates (u, v) that are
    * EXACTLY invariant under every orientation-preserving affine map
    * (rotation x anisotropic squeeze x uniform scale x shear, all
    * unknown) — no whitening, no estimator, no hypothesis fan. The
    * round-13 design lesson pinned by the estimator experiments: a
    * k-NN displacement covariance CANNOT drive whitening, because
    * nearest-neighbor SELECTION concentrates along the compressed
    * axis and overwhelms the geometric elongation with the opposite
    * sign — the iteration diverges (measured: a near-isotropic
    * master's "whitener" walked to a 1.88:1 stretch in 3 steps, and
    * whitened-frame code overlap on an EXACT cloud-level affine pair
    * was 1-13 of 360). Exact invariants need no estimate at all.
    *
    * Locality = crop robustness: bases and coded points are all
    * drawn from the anchor's nNear NEAREST co-peaks, so an interior
    * anchor's codes survive any crop that keeps its neighborhood;
    * border anchors die with their cut neighbors (the class price).
    * Chirality: bases are oriented det > 0, so codes are invariant
    * only under orientation-PRESERVING maps — a mirrored re-upload
    * stays with the dihedral fan.
    *
    * One code per (anchor, oriented conditioned basis pair from the
    * nBasis nearest, unordered pair of OTHER near co-peaks),
    * packing the two points' quantized (u, v) in canonical
    * (lexicographic) order — an ordering that is a pure function of
    * the invariant coordinates and therefore itself affine-invariant.
    * Ill-conditioned bases (|sin| < ~14 deg) are skipped: their
    * coordinates amplify the half-pixel detection jitter past the
    * quantizer. */
  private[operators] def affineFrameCodes(
      cells: scala.collection.Seq[(Int, Int, Int)], kTop: Int,
      nNear: Int, nBasis: Int, qStep: Double,
      nPts: Int = 3): Iterator[Long] =
    affineFrameCodesAnchored(cells, kTop, nNear, nBasis, qStep, nPts)
      .map(_._1)

  /** [[affineFrameCodes]] keeping, per DISTINCT code, the (x, y) of
    * the FIRST anchor that emitted it — the correspondence seed of
    * the verified tier (m179): a matched code between two docs
    * yields a point-pair hypothesis (anchor_a <-> anchor_b) for the
    * affine fit. */
  private[operators] def affineFrameCodesAnchored(
      cells: scala.collection.Seq[(Int, Int, Int)], kTop: Int,
      nNear: Int, nBasis: Int, qStep: Double,
      nPts: Int = 3): Iterator[(Long, Int, Int)] = {
    require(nPts == 3 || nPts == 4, "nPts must be 3 or 4")
    val top = cells.sortBy { case (x, y, v) => (-v, x, y) }.take(kTop)
    val lms = new AnchoredCodeSet
    top.foreach { case (ax, ay, _) =>
      val nbrs = top.iterator
        .filter { case (bx, by, _) => bx != ax || by != ay }
        .map { case (bx, by, _) =>
          val dx = (bx - ax).toDouble; val dy = (by - ay).toDouble
          (dx * dx + dy * dy, dx, dy)
        }.toArray.sortBy { case (d2, dx, dy) => (d2, dx, dy) }
        .take(nNear)
      val nb = math.min(nBasis, nbrs.length)
      var i = 0
      while (i < nb) {
        var j = i + 1
        while (j < nb) {
          var (_, e1x, e1y) = nbrs(i)
          var (_, e2x, e2y) = nbrs(j)
          var det = e1x * e2y - e1y * e2x
          if (det < 0) { // orient the basis: det > 0 (chirality-fixed)
            val tx = e1x; val ty = e1y
            e1x = e2x; e1y = e2y; e2x = tx; e2y = ty
            det = -det
          }
          val n1 = StrictMath.sqrt(e1x * e1x + e1y * e1y)
          val n2 = StrictMath.sqrt(e2x * e2x + e2y * e2y)
          // conditioning floor: |sin(angle)| >= 0.25
          if (det >= 0.25 * n1 * n2) {
            // quantized frame coords of every OTHER near co-peak
            val pts = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
            var k = 0
            while (k < nbrs.length) {
              if (k != i && k != j) {
                val (_, px, py) = nbrs(k)
                val u = (px * e2y - py * e2x) / det
                val v = (-px * e1y + py * e1x) / det
                val qu = math.round(u / qStep)
                val qv = math.round(v / qStep)
                if (qu >= -31 && qu <= 32 && qv >= -31 && qv <= 32)
                  pts += ((qu, qv))
              }
              k += 1
            }
            // one code per unordered TRIPLE in canonical (lex) order —
            // the ordering is a pure function of the invariant
            // coordinates, so it is itself affine-invariant; triples
            // (36 packed bits) over pairs (24) buy the decoy-collision
            // margin the 32k sweep needs (measured below 2-point codes
            // at decoy frac 0.03-0.06 vs planted 0.10-0.26 — too thin)
            var x = 0
            while (x < pts.length) {
              var y = x + 1
              while (y < pts.length) {
                var z = y + 1
                while (z < pts.length) {
                  if (nPts == 3) {
                    val s3 = Seq(pts(x), pts(y), pts(z)).sorted
                    if (s3(0) != s3(1) && s3(1) != s3(2)) {
                      lms.add((((((s3(0)._1 + 31L) * 64L + (s3(0)._2 + 31L))
                        * 64L + (s3(1)._1 + 31L)) * 64L + (s3(1)._2 + 31L))
                        * 64L + (s3(2)._1 + 31L)) * 64L + (s3(2)._2 + 31L),
                        ax, ay)
                    }
                  } else {
                    // nPts = 4 (experimental, round-17 selectivity
                    // measurement): one code per unordered QUAD, 48
                    // packed bits — rarer accidental coincidences on
                    // generic texture layouts at the price of p^4 (vs
                    // p^3) per-code jitter survival for true pairs
                    var w = z + 1
                    while (w < pts.length) {
                      val s4 = Seq(pts(x), pts(y), pts(z), pts(w)).sorted
                      if (s4(0) != s4(1) && s4(1) != s4(2) &&
                          s4(2) != s4(3)) {
                        var c = 0L
                        var q = 0
                        while (q < 4) {
                          c = (c * 64L + (s4(q)._1 + 31L)) * 64L +
                            (s4(q)._2 + 31L)
                          q += 1
                        }
                        lms.add(c, ax, ay)
                      }
                      w += 1
                    }
                  }
                  z += 1
                }
                y += 1
              }
              x += 1
            }
          }
          j += 1
        }
        i += 1
      }
    }
    lms.iterator
  }

  /** Insertion-ordered distinct (code -> first anchor) accumulator of
    * [[affineFrameCodesAnchored]]. */
  private final class AnchoredCodeSet {
    private val m = new java.util.LinkedHashMap[Long, (Int, Int)]
    def add(code: Long, ax: Int, ay: Int): Unit =
      if (!m.containsKey(code)) m.put(code, (ax, ay))
    def iterator: Iterator[(Long, Int, Int)] = {
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e =>
        (e.getKey, e.getValue._1, e.getValue._2))
    }
  }

  /** AFFINE-FRAME landmarks — the CROP x rotation x anisotropic-
    * squeeze compound (m174): [[affineFrameCodes]] per decoded image.
    * Squeeze scope (REVISED by round-14 measurement): the codes are
    * exact affine invariants, so the binding limits are detection
    * (blob merge on the squeezed pixels — data-density dependent:
    * ~1.5:1 on the dense 128px m160/m165 class) and the nearest-
    * neighbor/conditioning selection (NOT affine-invariant — on the
    * 256px 24-blob gate class recall holds 12/12 through 2.5:1 and
    * drops to 4/12 over 3.0-4.0:1). Past the selection boundary the
    * DE-SQUEEZE fan ([[imageAffineFrameLandmarksSqueezeFan]], m184)
    * re-renders the detected cloud per hypothesis factor; de-squeezing
    * the pixels themselves would need the global estimate a crop
    * denies. A distinct landmark family from every constellation tier
    * (different code space); never mix families in one index. */
  def imageAffineFrameLandmarks(media: DataFrame, kTop: Int, nNear: Int,
      nBasis: Int, qStep: Double, smoothR: Int, radius: Int, minAvg: Int,
      nPts: Int)(implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(nNear >= 4 && nNear <= 16,
      "nNear must be in 4..16 (a frame code needs 2 basis + 2 coded co-peaks)")
    require(nBasis >= 2 && nBasis <= nNear, "nBasis must be in 2..nNear")
    require(qStep > 0.0, "qStep must be > 0")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            affineFrameCodes(
              coarsePeakCells(lumaPlane(img), img.getWidth,
                img.getHeight, smoothR, radius, minAvg),
              kTop, nNear, nBasis, qStep, nPts).map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** Version stamp for the affine-frame family ([[affineFrameCodes]]
    * — basis selection, conditioning floor, coordinate quantizer,
    * pair packing): namespaced (affine-frame = 11400 + v);
    * 11401 = v1. */
  val AffineFrameFpVersion: Int = 11401

  /** AFFINE-FRAME codes pooled per VIDEO document — the m174 tier
    * lifted to the frame sequence (m177): every sampled frame's exact
    * affine-invariant local-frame codes pool DISTINCT, so a video
    * that was CROPPED, tilted, and anamorphically re-ripped (all
    * unknown) lands where the whitened video tiers (m171) are
    * structurally out (the crop changes their covariance estimate).
    * One container walk. */
  def videoAffineFrameLandmarks(media: DataFrame, every: Int, kTop: Int,
      nNear: Int, nBasis: Int, qStep: Double, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    require(nNear >= 4 && nNear <= 16,
      "nNear must be in 4..16 (a frame code needs 2 basis + 2 coded co-peaks)")
    require(nBasis >= 2 && nBasis <= nNear, "nBasis must be in 2..nNear")
    pooledFrameCodes(media, every)(b =>
      decodeImage(b).iterator.flatMap(img => affineFrameCodes(
        coarsePeakCells(lumaPlane(img), img.getWidth, img.getHeight,
          smoothR, radius, minAvg), kTop, nNear, nBasis, qStep)))
  }

  /** ANCHORED affine-frame codes pooled per VIDEO document — the
    * verified tier's raw table for the frame sequence (m182): every
    * sampled frame's codes pool DISTINCT with the FIRST emitting
    * anchor's (x, y). Anchors from DIFFERENT frames share one pixel
    * coordinate system and the re-rip transform (crop/rotate/squeeze)
    * is applied uniformly to every frame, so ONE affine map relates
    * all cross-rendition anchor pairs regardless of which frame
    * emitted them; a code whose first-emitting frame differs between
    * renditions (trim, near-duplicate frames) yields an OUTLIER
    * correspondence, which is exactly what the RANSAC verify absorbs.
    * One container walk. */
  def videoAffineFrameLandmarksAnchored(media: DataFrame, every: Int, kTop: Int,
      nNear: Int, nBasis: Int, qStep: Double, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val set = new AnchoredCodeSet
            fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .foreach { f =>
                decodeImage(f._1).foreach { img =>
                  affineFrameCodesAnchored(
                    coarsePeakCells(lumaPlane(img), img.getWidth,
                      img.getHeight, smoothR, radius, minAvg),
                    kTop, nNear, nBasis, qStep).foreach { case (lm, ax, ay) =>
                    set.add(lm, ax, ay)
                  }
                }
              }
            set.iterator.map { case (lm, ax, ay) => (r.doc_id, lm, ax, ay) }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "lm", "ax", "ay")
  }

  /** VERIFIED crop x affine video pairs (m182 — the m179 verdict at
    * the frame sequence): [[videoAffineFrameLandmarks]]' code gate
    * measured the same fragility the image tier did (gray-zone
    * compounds score just under the m177 gate while the decoy tail
    * reaches it), so candidates nominate at a LOW gate over the
    * pooled per-video code sets and each candidate is RANSAC-verified
    * from the matched codes' pooled anchor correspondences — the
    * rendering transform is one affine map across ALL frames, so the
    * pooled anchor clouds align exactly like the image member's.
    * verifyMinFrac sits LOWER than the image default: a leading trim
    * removes whole frames' anchors from the shared field (a 2-of-6
    * frame trim caps the aligned fraction near 2/3), while a decoy's
    * verified fraction stays pinned at ~0 by the same absolute floor. */
  def videoAffineFramePairsVerified(media: DataFrame,
      candMinMatch: Double = 0.004, candMinShared: Int = 4,
      verifyMinFrac: Double = 0.4, verifyMinAligned: Int = 9,
      tolPx: Double = 3.0, maxDf: Int = 0,
      f: VideoAffineFrameAnchored = VideoAffineFrameAnchored()): DataFrame =
    affineFramePairsVerifiedFrom(Materialize.eager(f.landmarks(media)),
      candMinMatch, candMinShared, verifyMinFrac, verifyMinAligned,
      tolPx, maxDf)

  /** Video near-dup pairs under the MIRROR x CROP x FULL-AFFINE
    * compound (m187 — m181's chiral readout at the frame sequence):
    * the affine-frame family is chirality-FIXED by design (oriented
    * bases, det > 0), so a mirrored re-rip is invisible to m177 —
    * and a mirrored rendering's invariant coordinates swap (u, v)
    * exactly PER FRAME, so the pooled video mirror readout is the
    * same pure Long->Long repack of the pooled identity codes (no
    * second container walk, no second detection). The m140/m145
    * asymmetric fan shape keeps indexes and state identity-sized;
    * orient 1 = landed via the mirror readout. */
  def videoAffineFramePairsChiral(media: DataFrame,
      minMatch: Double = 0.02, maxDf: Int = 0, minShared: Int = 16,
      f: VideoAffineFrame = VideoAffineFrame()): DataFrame = {
    val mir = udf((lm: Long) => mirrorAffineFrameCode(lm))
    val id0 = Materialize.eager(f.landmarks(media))
    val lms = id0.select(col("doc_id"), lit(0).as("orient"), col("lm"))
      .unionByName(id0.select(col("doc_id"), lit(1).as("orient"),
        mir(col("lm")).as("lm")))
    orientedLandmarkPairScores(Materialize.eager(lms), minMatch, maxDf,
      minShared)
  }

  /** The geometric verifier of the affine-frame VERIFIED tier
    * (m179/m180/st124), as a reusable UDF: RANSAC over the matched
    * codes' anchor-correspondence SET (canonically sorted — the
    * verdict must be invariant under repartitioning), maps scored
    * directly by the INJECTIVE greedy alignment of the two anchor
    * clouds, with an ABSOLUTE aligned floor. Returns the aligned
    * fraction over the smaller cloud, or 0.0 below the floor.
    * `detSign` selects the admitted map chirality: +1 verifies
    * orientation-PRESERVING candidates (det in (0.05, 20]), -1
    * orientation-REVERSING ones (the m183 mirror compound — det in
    * [-20, -0.05)); the conditioning cap is sign-blind. */
  private def affineCloudVerifyUdf(tolPx: Double, verifyMinAligned: Int,
      detSign: Int = 1)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((corr: Seq[org.apache.spark.sql.Row],
        ca: Seq[org.apache.spark.sql.Row],
        cb: Seq[org.apache.spark.sql.Row]) => {
      // canonical order: collect_list is partition-order-dependent,
      // and the RANSAC walk (and its tie-breaks) must be a pure
      // function of the SET of correspondences, or the verdict would
      // change under repartitioning (golden-compare poison)
      val pairs = corr.map(r => (r.getInt(0).toDouble,
        r.getInt(1).toDouble, r.getInt(2).toDouble,
        r.getInt(3).toDouble)).distinct.sorted.toArray
      val n = pairs.length
      if (n < 3) 0.0
      else {
        // RANSAC over correspondence TRIPLES: the candidate gate is
        // deliberately low, so a candidate's correspondence set can be
        // mostly quantizer coincidences — least squares (even trimmed)
        // is poisoned by them (measured: planted recall DROPPED under
        // LS verify), while one clean triple reveals the true map.
        // Each solvable triple's map is scored directly by the
        // alignment objective below.
        // Conditioning guards reject the degenerate fits a decoy can
        // "win" with (a collapse maps every point near one target).
        @inline def mapOk(m00: Double, m01: Double, m10: Double,
            m11: Double): Boolean = {
          val det = (m00 * m11 - m01 * m10) * detSign
          if (det <= 0.05 || det > 20.0) false
          else {
            // singular values of M via eigen of M^T M
            val g00 = m00 * m00 + m10 * m10
            val g11 = m01 * m01 + m11 * m11
            val g01 = m00 * m01 + m10 * m11
            val tr = g00 + g11
            val d = StrictMath.sqrt(math.max(0.0,
              (g00 - g11) * (g00 - g11) / 4.0 + g01 * g01))
            val smax2 = tr / 2.0 + d; val smin2 = math.max(1e-12, tr / 2.0 - d)
            smax2 / smin2 <= 16.0 // aspect distortion cap 4:1
          }
        }
        def solve3(i: Int, j: Int, k: Int): Option[Array[Double]] = {
          val (x1, y1, u1, v1) = pairs(i)
          val (x2, y2, u2, v2) = pairs(j)
          val (x3, y3, u3, v3) = pairs(k)
          val det = (x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)
          if (math.abs(det) < 25.0) None // near-collinear source triple
          else {
            val m00 = ((u2 - u1) * (y3 - y1) - (u3 - u1) * (y2 - y1)) / det
            val m01 = ((u3 - u1) * (x2 - x1) - (u2 - u1) * (x3 - x1)) / det
            val m10 = ((v2 - v1) * (y3 - y1) - (v3 - v1) * (y2 - y1)) / det
            val m11 = ((v3 - v1) * (x2 - x1) - (v2 - v1) * (x3 - x1)) / det
            if (!mapOk(m00, m01, m10, m11)) None
            else Some(Array(m00, m01, u1 - m00 * x1 - m01 * y1,
              m10, m11, v1 - m10 * x1 - m11 * y1))
          }
        }
        // score a candidate map by the TRUE objective — the injective
        // aligned count of the anchor clouds — not by correspondence
        // inliers: tiny correspondence sets tie at 3 inliers and the
        // tie-break picked whichever conditioned-but-wrong map came
        // first (measured: a borderline pair flipped 1.0 -> 0.33
        // purely on enumeration order)
        // the clouds too: pa/pb come straight from collect_list, and
        // the injective greedy below is iteration-order dependent
        // (which source claims a contested target; d2 ties resolve by
        // index) — sort canonically so alignedCount is a pure
        // function of the cloud SETS, same as `pairs`
        val pa = ca.map(r => (r.getInt(0).toDouble,
          r.getInt(1).toDouble)).distinct.sorted.toArray
        val pb = cb.map(r => (r.getInt(0).toDouble,
          r.getInt(1).toDouble)).distinct.sorted.toArray
        val tol2 = tolPx * tolPx
        val used = new Array[Boolean](pb.length)
        def alignedCount(f: Array[Double]): Int = {
          // INJECTIVE greedy: each target anchor absorbs at most one
          // mapped source anchor, so a near-degenerate map (or a
          // dense target cluster) cannot inflate the score by
          // many-to-one matching
          java.util.Arrays.fill(used, false)
          var aligned = 0
          var a = 0
          while (a < pa.length) {
            val x = pa(a)._1; val y = pa(a)._2
            val u = f(0) * x + f(1) * y + f(2)
            val v = f(3) * x + f(4) * y + f(5)
            var bi = -1; var bd = tol2
            var i = 0
            while (i < pb.length) {
              if (!used(i)) {
                val dx = pb(i)._1 - u; val dy = pb(i)._2 - v
                val d2 = dx * dx + dy * dy
                if (d2 <= bd) { bd = d2; bi = i }
              }
              i += 1
            }
            if (bi >= 0) { used(bi) = true; aligned += 1 }
            a += 1
          }
          aligned
        }
        // deterministic triple enumeration: all triples when small,
        // a seeded LCG sample otherwise
        var bestAligned = 0
        if (n <= 14) {
          var i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) {
              var k = j + 1
              while (k < n) {
                solve3(i, j, k).foreach { f =>
                  val c = alignedCount(f)
                  if (c > bestAligned) bestAligned = c
                }
                k += 1
              }
              j += 1
            }
            i += 1
          }
        } else {
          var st = 0x9E3779B97F4A7C15L ^ n.toLong
          @inline def nx(m: Int): Int = {
            st = st * 6364136223846793005L + 1442695040888963407L
            (((st >>> 17) % m + m) % m).toInt
          }
          var t = 0
          while (t < 512) {
            val i = nx(n); val j = nx(n); val k = nx(n)
            if (i != j && j != k && i != k)
              solve3(i, j, k).foreach { f =>
                val c = alignedCount(f)
                if (c > bestAligned) bestAligned = c
              }
            t += 1
          }
        }
        // ABSOLUTE floor on top of the fraction: any solvable
        // correspondence triple aligns its own 3 anchors by
        // construction, so a small-cloud decoy needs only a few
        // chance alignments to fake a passing fraction — and because
        // the verifier MAXIMIZES alignment over hundreds of candidate
        // maps, the decoy tail grows with corpus size (measured at
        // floor 7: extras 2/29/420 at 2k/8k/32k). The (9, 0.5)
        // operating point measured 766/800 planted with ZERO extras
        // at 8k; true pairs align 9-20 anchors.
        if (bestAligned < verifyMinAligned) 0.0
        else bestAligned.toDouble /
          math.max(1, math.min(pa.length, pb.length))
      }
    })

  /** VERIFIED affine-frame pairs (m179) — the m159 candidate+verify
    * pattern lifted to images: [[affineFrameCodesAnchored]] codes
    * nominate pairs at a LOW gate (the measured m174 recall ceiling:
    * planted compound pairs missed by the default gate score
    * 0.006-0.019 — just under it — while the 32k decoy tail also
    * reaches 0.02, so no single-threshold cut separates them), then
    * each candidate is verified GEOMETRICALLY: the matched codes'
    * anchor pairs are correspondence hypotheses, a trimmed
    * least-squares affine fit (6 params, translation included — crops
    * shift centers) maps one anchor cloud onto the other, and the
    * verified score is the aligned fraction over the smaller cloud.
    * A true re-upload aligns its whole shared field (frac ~0.8-1.0);
    * a decoy's correspondences are quantizer coincidences that no
    * single affine map can satisfy (frac ~0). Verification is
    * per-candidate O(|corr| + |cloud|^2) driver-free arithmetic in a
    * UDF — candidates are already capped by the code gate, so the
    * verify stage adds no shuffle beyond the two cloud joins. */
  def imageAffineFramePairsVerified(media: DataFrame,
      candMinMatch: Double = 0.004, candMinShared: Int = 4,
      verifyMinFrac: Double = 0.5, verifyMinAligned: Int = 9,
      tolPx: Double = 3.0, maxDf: Int = 0,
      f: ImageAffineFrameAnchored = ImageAffineFrameAnchored()): DataFrame =
    affineFramePairsVerifiedFrom(Materialize.eager(f.landmarks(media)),
      candMinMatch, candMinShared, verifyMinFrac, verifyMinAligned,
      tolPx, maxDf)

  /** BOTH affine-frame tiers — the m174 code gate and the m179 RANSAC
    * verify — off ONE decode and ONE landmark pass (round 16; the
    * m192 gate previously ran [[ImageAffineFrame]] AND
    * [[imageAffineFramePairsVerified]] over the same corpus, paying
    * the dominant linear cost — decode + detection + coding — twice).
    * [[affineFrameCodes]] is by construction the anchored extractor's
    * code column ([[affineFrameCodesAnchored]] `.map(_._1)`), so the
    * anchored table's (doc_id, lm) projection IS the plain landmark
    * table: the code tier scores bit-identically to the two-decode
    * path, the verified tier reads the same materialized table, and
    * only the decode count changes. Returns (code pairs, verified
    * pairs) — both lazy plans over one eager checkpoint, so consume
    * them within the checkpoint's lifetime (one query). */
  def imageAffineFrameTiers(media: DataFrame, minMatch: Double = 0.02,
      minShared: Int = 16, candMinMatch: Double = 0.004,
      candMinShared: Int = 4, verifyMinFrac: Double = 0.5,
      verifyMinAligned: Int = 9, tolPx: Double = 3.0, maxDf: Int = 0,
      f: ImageAffineFrameAnchored = ImageAffineFrameAnchored())
      : (DataFrame, DataFrame) = {
    val anchored = Materialize.eager(f.landmarks(media))
    (peakLandmarkPairScores(anchored.select(col("doc_id"), col("lm")),
        minMatch, maxDf, minShared),
      affineFramePairsVerifiedFrom(anchored, candMinMatch,
        candMinShared, verifyMinFrac, verifyMinAligned, tolPx, maxDf))
  }

  /** [[imageAffineFrameTiers]] for VIDEO — one container walk feeds
    * both the m177 code gate and the m182 RANSAC verify (the anchored
    * pooled table's (doc_id, lm) projection is exactly
    * [[videoAffineFrameLandmarks]]: both extractors pool DISTINCT
    * codes per doc in first-emission order). */
  def videoAffineFrameTiers(media: DataFrame, minMatch: Double = 0.02,
      minShared: Int = 16, candMinMatch: Double = 0.004,
      candMinShared: Int = 4, verifyMinFrac: Double = 0.4,
      verifyMinAligned: Int = 9, tolPx: Double = 3.0, maxDf: Int = 0,
      f: VideoAffineFrameAnchored = VideoAffineFrameAnchored())
      : (DataFrame, DataFrame) = {
    val anchored = Materialize.eager(f.landmarks(media))
    (peakLandmarkPairScores(anchored.select(col("doc_id"), col("lm")),
        minMatch, maxDf, minShared),
      affineFramePairsVerifiedFrom(anchored, candMinMatch,
        candMinShared, verifyMinFrac, verifyMinAligned, tolPx, maxDf))
  }

  /** Sentinel for `maxDf`: SOLVE the cap from the measured df
    * distribution and the configured shuffle budget
    * ([[solveDfCap]]) — the SCALE.md:385-398 deployment rule promoted
    * into the operator, so a 100-TB user does not hand-pick a cap
    * from a separate dfstats run. */
  val AutoDf: Int = -1

  /** Conf key for the pair-explode shuffle budget [[solveDfCap]]
    * solves against (bytes). Default 16 GiB — sized to local[32]'s
    * measured comfort zone (the 50k saturated blob fixture solves to
    * the cap-64 operating point: 6.4e8 corr rows x ~32 B ~ 20 GB was
    * flat per-doc, the cap-500 2.7e9-row explode spilled 74 GB and
    * was not); a cluster deployment sets it to the shuffle capacity
    * actually provisioned. */
  val PairBudgetConf = "spark.graft.pair.shuffleBudgetBytes"

  /** Solve the largest df cap whose pair explode fits `budgetBytes`
    * (<= 0: read [[PairBudgetConf]]): codes over the cap are DROPPED
    * by [[Postings.dfCapKeep]], so cost(c) = Sum over codes with 2 <= df <= c
    * of df^2/2 * pairRowBytes — monotone in c, solved exactly from a
    * ONE-PASS bounded histogram (exact counts for df <= 4096, one
    * geometric bin per octave above — driver rows <= 4096 + ~20, at
    * any corpus size). `lms` must be distinct (doc, lm) rows, the
    * scorer-input contract. Returns the largest observed df when
    * even the uncapped explode fits, and 2 (with a warn) when no cap
    * fits — never a value whose explode the budget cannot hold. */
  def solveDfCap(lms: DataFrame, pairRowBytes: Int,
      budgetBytes: Long = 0L): Int = {
    require(pairRowBytes > 0, "pairRowBytes must be > 0")
    val s = lms.sparkSession
    val budget = if (budgetBytes > 0) budgetBytes
      else s.conf.get(PairBudgetConf, (16L << 30).toString).toLong
    require(budget > 0, s"$PairBudgetConf must be > 0")
    val pivot = 4096L
    val dfT = lms.groupBy(col("lm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val hist = dfT.select(
        when(col("df") <= pivot, col("df"))
          .otherwise(-ceil(log(2.0,
            col("df").cast("double") / pivot)).cast("long")).as("bin"),
        col("df"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("df") * col("df")).as("s2"), max(col("df")).as("mx"))
      .collect()
    if (hist.isEmpty) return 0 // no pairable code at all: uncapped
    // candidate caps in ascending cost order: every exact df value,
    // then every geometric bin's ACTUAL max (bins hold disjoint df
    // ranges, so cost at a bin max = exact region + all lower bins —
    // exact, not a bound)
    val cands = (hist.filter(_.getLong(0) > 0)
        .map(r => (r.getLong(0), r.getLong(2))) ++
      hist.filter(_.getLong(0) < 0).sortBy(_.getLong(3))
        .map(r => (r.getLong(3), r.getLong(2))))
      .sortBy(_._1)
    val maxObserved = cands.last._1
    var cum = 0.0
    var solved = 0L
    cands.foreach { case (cap, s2) =>
      cum += s2.toDouble
      if (cum / 2.0 * pairRowBytes <= budget) solved = cap
    }
    val out =
      if (solved == maxObserved) math.min(maxObserved, Int.MaxValue.toLong).toInt
      else if (solved >= 2) solved.toInt
      else { // even the smallest pairable codes blow the budget
        hotLog.warn(s"solveDfCap: no cap fits budget $budget B at row " +
          s"width $pairRowBytes B - returning 2 (minimum pairable df)")
        2
      }
    hotLog.info(s"solveDfCap: cap=$out (budget=$budget B, row=" +
      s"$pairRowBytes B, max observed df=$maxObserved)")
    out
  }

  /** Count-first, survivor-gather candidate stage shared by the
    * identity ([[affineFramePairsVerifiedFrom]]) and chiral
    * ([[affineFramePairsChiralVerifiedFrom]]) verified tiers, over an
    * anchored table (doc_id[, orient], lm, ax, ay) distinct per
    * (doc[, orient], lm). With an `orient` column (the identity +
    * mirror fan) the lower doc's identity codes pair against the
    * higher doc's every readout and the pair key carries the b-side
    * orientation. Returns one row per surviving candidate pair:
    * (doc_a, doc_b[, orient], c, na, nb, corr), `corr` the matched
    * codes' anchor correspondences.
    *
    * The maxDf cap ([[AutoDf]] solved at pass 1's 16-byte pair width
    * over distinct (doc, lm) of the whole fan — the basis the cap
    * predicate enforces) filters the per-code posting row in place
    * ([[Postings.dfCapKeep]]); the posting table is persisted, since
    * both passes explode from it and it is posting-sized, never
    * pair-sized. Pass 1 counts shared codes only (fixed-width
    * aggregation state; one posting row per (doc, code), so count(1)
    * == countDistinct(lm)) and its survivors of the shared / minMatch
    * gates are materialized — near-dup mass, read three times. Pass 2
    * gathers correspondences for survivors only (a left-semi join keeps
    * the collect_list state at near-dup mass). SURVIVOR-AWARE GATHER:
    * when pass 1 leaves at most `gatherMaxPairs` pairs, pass
    * 2's explode is pre-filtered to the survivor DOCS' posting entries
    * by a literal sorted id array (cost bounded by entries x
    * 2*threshold compares), instead of re-exploding the whole posting
    * table and semi-joining ~all of it away; above the threshold the
    * full re-explode runs. Row-identical either way: the semi-join
    * still gates exact survivor pairs, and dropping non-survivor docs'
    * entries can drop no surviving pair's correspondence. */
  private def verifiedCandidates(fan: DataFrame, nl: DataFrame, maxDf: Int,
      candMinShared: Int, candMinMatch: Double,
      gatherMaxPairs: Long): DataFrame = {
    val o = Seq("orient").filter(fan.columns.contains)
    val docLms = fan.select(col("doc_id"), col("lm"))
    val (cap, solvedCap) = Postings.resolveDfCap(
      if (o.isEmpty) docLms else docLms.distinct(), maxDf, 16)
    val posted = Materialize.eager(fan.groupBy(col("lm"))
      .agg(collect_list(struct((Seq("doc_id") ++ o ++ Seq("ax", "ay"))
        .map(col): _*)).as("ps"))
      .filter(size(col("ps")) >= 2 &&
        Postings.dfCapKeep(fan.sparkSession, col("lm"),
          if (o.isEmpty) size(col("ps"))
          else size(array_distinct(transform(col("ps"),
            x => x.getField("doc_id")))), cap, solvedCap)))
    // a = the LOWER doc's entry (lists sort by doc_id first); on a fan
    // only its identity codes pair
    def pairRows(list: Column): DataFrame =
      posted.select(explode(Postings.pairs(list)).as("p"))
        .filter(if (o.isEmpty) col("p.a.doc_id") < col("p.b.doc_id")
          else col("p.a.doc_id") < col("p.b.doc_id") && col("p.a.orient") === 0)
    val keys = Seq("doc_a", "doc_b") ++ o
    val keyCols = Seq(col("p.a.doc_id").as("doc_a"),
      col("p.b.doc_id").as("doc_b")) ++ o.map(_ => col("p.b.orient").as("orient"))
    val allPairs = pairRows(col("ps"))
    val surv = Materialize.eager(allPairs.select(keyCols: _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= math.max(1, candMinShared))
      .join(nl.select(col("doc_id").as("doc_a"), col("nl").as("na")),
        Seq("doc_a"))
      .join(nl.select(col("doc_id").as("doc_b"), col("nl").as("nb")),
        Seq("doc_b"))
      .filter(col("c").cast("double") / least(col("na"), col("nb"))
        >= candMinMatch))
    val gatherRows =
      if (surv.count() <= gatherMaxPairs) {
        val ids = surv.select(col("doc_a"))
          .unionAll(surv.select(col("doc_b")))
          .distinct().collect().map(_.getLong(0)).sorted.toSeq
        pairRows(filter(col("ps"), x =>
          array_contains(typedlit(ids), x.getField("doc_id"))))
      } else allPairs
    gatherRows
      .select(keyCols :+ struct(col("p.a.ax").as("axa"), col("p.a.ay").as("aya"),
        col("p.b.ax").as("axb"), col("p.b.ay").as("ayb")).as("co"): _*)
      .join(surv.select(keys.map(col): _*), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(collect_list(col("co")).as("corr"))
      .join(surv, keys)
  }

  /** Candidate + RANSAC-verify stage of the verified affine-frame
    * tier over an ANCHORED landmark table (doc_id, lm, ax, ay) —
    * shared by the image (m179) and video (m182) members: the media
    * extractors differ, the geometry does not. PUBLIC (round 16): a
    * caller holding a materialized anchored table (e.g. to
    * [[solveDfCap]] a budgeted cap first, or to feed several tiers
    * off one decode) runs the verify stage directly — the m193
    * auto-cap gate is exactly that composition.
    *
    * Candidate shape (round 15): ONE groupBy(lm) builds per-code
    * posting lists — rows are distinct (doc, lm), so the list size
    * IS the code's distinct-doc df and the cap filters the posting
    * row directly ([[Postings.dfCapKeep]]) — and the pair fan-out
    * happens in-row ([[Postings.pairs]]). The former shape
    * ([[Postings.capDf]]'s count-agg + semi-join back, then a
    * two-sided self-join on lm) re-shuffled the full anchored table
    * ~5x and was the round-14 growth artifact's one super-linear
    * entry (m186: per-doc wall x1.6 per corpus decade).
    *
    * COUNT-FIRST, GATHER-LATER (round 17): the former single pair
    * aggregation collected the 4-int anchor correspondence for EVERY
    * candidate pair — object-aggregation state proportional to the
    * whole pair explode (the budget's worth of bytes, deserialized),
    * which is what OOM'd a 24 GB heap at the 50k textured decade
    * (local[n] holds all tasks' state in one JVM; a fixed shuffle
    * partition count gives the same per-task growth on a cluster).
    * Now pass 1 aggregates COUNTS only — fixed-width codegen'd state
    * that spills — over pair rows carrying just (doc_a, doc_b), and
    * pass 2 re-explodes the (persisted, posting-sized) code table to
    * gather correspondences for the pairs that SURVIVED the shared /
    * minMatch gates — corr mass ∝ surviving near-dup pairs, not the
    * explode. Per-task aggregation state is now corpus-independent
    * at a fixed byte budget, and the big shuffle dropped from 32 B to
    * 16 B rows, so the same [[AutoDf]] budget solves a ~√2 higher
    * cap (recall back at no extra bytes). */
  def affineFramePairsVerifiedFrom(lms: DataFrame,
      candMinMatch: Double = 0.004, candMinShared: Int = 4,
      verifyMinFrac: Double = 0.5, verifyMinAligned: Int = 9,
      tolPx: Double = 3.0, maxDf: Int = 0): DataFrame =
    verifiedPairsFrom(lms, candMinMatch, candMinShared, verifyMinFrac,
      verifyMinAligned, tolPx, maxDf, SurvivorGatherMaxPairs)

  /** [[affineFramePairsVerifiedFrom]] at an explicit survivor-gather
    * bound ([[SurvivorGatherMaxPairs]]), so a spec can force either
    * gather path. */
  private[graft] def verifiedPairsFrom(lms: DataFrame,
      candMinMatch: Double, candMinShared: Int, verifyMinFrac: Double,
      verifyMinAligned: Int, tolPx: Double, maxDf: Int,
      gatherMaxPairs: Long): DataFrame = {
    require(verifyMinFrac >= 0.0 && verifyMinFrac <= 1.0,
      "verifyMinFrac must be in [0, 1]")
    require(tolPx > 0.0, "tolPx must be > 0")
    val nl = lms.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    // anchor cloud per doc = its DISTINCT landmark anchors (a subset
    // of the detected peaks — every peak with a conditioned basis)
    val clouds = lms.select(col("doc_id"), col("ax"), col("ay"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("ax"), col("ay"))).as("cloud"))
    val cand = verifiedCandidates(lms, nl, maxDf, candMinShared,
      candMinMatch, gatherMaxPairs)
    val verify = affineCloudVerifyUdf(tolPx, verifyMinAligned)
    cand
      .join(clouds.select(col("doc_id").as("doc_a"),
        col("cloud").as("cloud_a")), Seq("doc_a"))
      .join(clouds.select(col("doc_id").as("doc_b"),
        col("cloud").as("cloud_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(least(verify(col("corr"), col("cloud_a"), col("cloud_b")),
          lit(1.0)), 6).as("match_frac"))
      .filter(col("match_frac") >= verifyMinFrac)
  }

  /** MIRROR readout of a packed affine-frame code — a pure
    * Long -> Long transform: a mirrored rendering's displacements are
    * R d with det(R) < 0, so the oriented basis pair SWAPS (e1, e2)
    * and every coded co-peak's invariant coordinates swap (u, v) <->
    * (v, u); unpack the three points, swap, re-sort canonically,
    * repack. No second detection pass, no second code pass — the
    * mirror fan is free arithmetic on the identity codes (m181:
    * mirror x crop x rotation x squeeze, the compound the
    * chirality-fixed base family excludes by design and the dihedral
    * fans' 90-degree grid cannot reach). */
  private[operators] def mirrorAffineFrameCode(lm: Long): Long = {
    var v = lm
    val f = new Array[Long](6)
    var i = 5
    while (i >= 0) { f(i) = v % 64L; v /= 64L; i -= 1 }
    // fields are (qu1,qv1,qu2,qv2,qu3,qv3) each +31; swap u<->v per point
    val pts = Seq((f(1), f(0)), (f(3), f(2)), (f(5), f(4))).sorted
    ((((pts(0)._1 * 64L + pts(0)._2) * 64L + pts(1)._1) * 64L +
      pts(1)._2) * 64L + pts(2)._1) * 64L + pts(2)._2
  }

  /** Image near-dup pairs under the MIRROR x CROP x FULL-AFFINE
    * compound (m181): the lower doc's identity codes bucket against
    * the higher doc's identity AND mirror readouts (the m140/m145
    * asymmetric fan shape — indexes and state stay identity-sized),
    * scored per readout over the smaller identity code count. orient
    * 1 = mirrored. */
  def imageAffineFramePairsChiral(media: DataFrame,
      minMatch: Double = 0.02, maxDf: Int = 0, minShared: Int = 16,
      f: ImageAffineFrame = ImageAffineFrame()): DataFrame = {
    val mir = udf((lm: Long) => mirrorAffineFrameCode(lm))
    val id0 = Materialize.eager(f.landmarks(media))
    val lms = id0.select(col("doc_id"), lit(0).as("orient"), col("lm"))
      .unionByName(id0.select(col("doc_id"), lit(1).as("orient"),
        mir(col("lm")).as("lm")))
    orientedLandmarkPairScores(Materialize.eager(lms), minMatch, maxDf,
      minShared)
  }

  /** (doc_id, orient, lm) CHIRAL fan of the affine-frame codes —
    * orient 0 the identity code, 1 its mirror repack
    * ([[mirrorAffineFrameCode]], pure Long arithmetic). One decode
    * pass, then a pure per-row explode — STREAMING-SAFE (st125 runs
    * it on a file stream against a broadcast identity index). */
  def imageAffineFrameLandmarksChiral(media: DataFrame, kTop: Int, nNear: Int,
      nBasis: Int, qStep: Double, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    val mir = udf((lm: Long) => mirrorAffineFrameCode(lm))
    imageAffineFrameLandmarks(media, kTop, nNear, nBasis, qStep,
        smoothR, radius, minAvg, 3).toDF()
      .select(col("doc_id"), explode(array(
        struct(lit(0).as("orient"), col("lm").as("lm")),
        struct(lit(1).as("orient"), mir(col("lm")).as("lm")))).as("r"))
      .select(col("doc_id"), col("r.orient").as("orient"),
        col("r.lm").as("lm"))
  }

  /** AFFINE-FRAME landmarks with a DE-SQUEEZE hypothesis fan (m184 —
    * the crop x EXTREME-squeeze compound). MEASURED boundary
    * adjudication first (round 14, 256px 24-blob gate class,
    * central-75% crop x {17, -23} deg x both axes): the base tier's
    * identity codes are exact affine invariants, and on this class
    * its detection and enough of its nearest-neighbor sets survive
    * through 2.5:1 — base recall is 12/12 at 1.7-2.5:1, so the old
    * "~1.5:1 declared limit" (inherited from the denser 128px
    * m160/m165 corpus) does NOT bind here. What DOES break past
    * ~3:1 is the NEIGHBOR-SELECTION and conditioning geometry (which
    * co-peaks are "nearest" and which bases pass the |sin| floor are
    * not affine-invariant — base drops to 4/12 over 3.0-4.0:1), and
    * de-squeezing the PIXELS first needs exactly the global estimate
    * a crop denies. The m152 fan shape at this seam: peaks detect
    * ONCE on the squeezed rendering, then each hypothesis factor g
    * re-renders the peak GEOMETRY (x*g or y*g — the squeeze axis is
    * also unknown, so each factor fans both) and emits that
    * geometry's frame codes: the hypothesis undoing the squeeze
    * reproduces the master's natural codes up to <= 0.5*g px of grid
    * rounding, inside the family's jitter model. Measured: fan 9/12
    * over 3.0-4.0:1 with ZERO spurious at the m174 gate (matched-
    * hypothesis readouts score 2-4x the identity readout). hyps(0)
    * MUST be 1.0 (the identity row registers in indexes/state — the
    * asymmetric fan shape); orient = 0 identity, 2*hi-1 / 2*hi the
    * hi-th factor's x / y readout. What stays out: squeezes so deep
    * the blobs MERGE at detection (nothing to re-render — the
    * remaining 3/12), and factors off the fan by more than the
    * quantizer's absorption. */
  def imageAffineFrameLandmarksSqueezeFan(media: DataFrame, hyps: Seq[Double],
      kTop: Int, nNear: Int, nBasis: Int, qStep: Double, smoothR: Int,
      radius: Int, minAvg: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(hyps.nonEmpty && hyps.head == 1.0,
      "hyps(0) must be the identity 1.0 (the registering readout)")
    require(hyps.forall(g => g > 0.0), "hypothesis factors must be > 0")
    require(nNear >= 4 && nNear <= 16,
      "nNear must be in 4..16 (a frame code needs 2 basis + 2 coded co-peaks)")
    require(nBasis >= 2 && nBasis <= nNear, "nBasis must be in 2..nNear")
    require(qStep > 0.0, "qStep must be > 0")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            val cells = coarsePeakCells(lumaPlane(img), img.getWidth,
              img.getHeight, smoothR, radius, minAvg)
            hyps.iterator.zipWithIndex.flatMap { case (g, hi) =>
              if (hi == 0)
                affineFrameCodes(cells, kTop, nNear, nBasis, qStep)
                  .map(lm => (r.doc_id, 0, lm))
              else {
                val dx = cells.map { case (x, y, v) =>
                  (math.round(g * x).toInt, y, v) }
                val dy = cells.map { case (x, y, v) =>
                  (x, math.round(g * y).toInt, v) }
                affineFrameCodes(dx, kTop, nNear, nBasis, qStep)
                  .map(lm => (r.doc_id, 2 * hi - 1, lm)) ++
                  affineFrameCodes(dy, kTop, nNear, nBasis, qStep)
                    .map(lm => (r.doc_id, 2 * hi, lm))
              }
            }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "orient", "lm")
  }

  /** [[imageAffineFrameLandmarksSqueezeFan]] pooled per VIDEO
    * document (m191 — the de-squeeze fan at the frame sequence):
    * every sampled frame's peaks detect ONCE, each hypothesis factor
    * re-renders that frame's peak GEOMETRY (both axes — the squeeze
    * axis is unknown; no second decode) and the readout's frame
    * codes pool DISTINCT per (doc, orient). The re-rip squeeze is
    * uniform across frames, so the matched hypothesis reproduces
    * every frame's natural codes and the pooled readout scores like
    * the image member's. One container walk. */
  def videoAffineFrameLandmarksSqueezeFan(media: DataFrame, hyps: Seq[Double],
      every: Int, kTop: Int, nNear: Int, nBasis: Int, qStep: Double,
      smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    require(hyps.nonEmpty && hyps.head == 1.0,
      "hyps(0) must be the identity 1.0 (the registering readout)")
    require(hyps.forall(g => g > 0.0), "hypothesis factors must be > 0")
    require(nNear >= 4 && nNear <= 16,
      "nNear must be in 4..16 (a frame code needs 2 basis + 2 coded co-peaks)")
    require(nBasis >= 2 && nBasis <= nNear, "nBasis must be in 2..nNear")
    require(qStep > 0.0, "qStep must be > 0")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val sets = scala.collection.mutable.LinkedHashMap
              .empty[Int, scala.collection.mutable.LinkedHashSet[Long]]
            fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .foreach { f =>
                decodeImage(f._1).foreach { img =>
                  val cells = coarsePeakCells(lumaPlane(img),
                    img.getWidth, img.getHeight, smoothR, radius, minAvg)
                  hyps.iterator.zipWithIndex.foreach { case (g, hi) =>
                    def add(orient: Int,
                        cs: scala.collection.Seq[(Int, Int, Int)]): Unit = {
                      val set = sets.getOrElseUpdate(orient,
                        scala.collection.mutable.LinkedHashSet.empty[Long])
                      affineFrameCodes(cs, kTop, nNear, nBasis, qStep)
                        .foreach(set += _)
                    }
                    if (hi == 0) add(0, cells)
                    else {
                      add(2 * hi - 1, cells.map { case (x, y, v) =>
                        (math.round(g * x).toInt, y, v) })
                      add(2 * hi, cells.map { case (x, y, v) =>
                        (x, math.round(g * y).toInt, v) })
                    }
                  }
                }
              }
            sets.iterator.flatMap { case (orient, set) =>
              set.iterator.map(lm => (r.doc_id, orient, lm)) }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "orient", "lm")
  }

  /** VERIFIED chiral affine-frame pairs (m183 — the m179 verdict on
    * the MIRROR compound): m181's chiral code gate inherits exactly
    * the identity gate's gray-zone fragility (the mirror readout is
    * pure arithmetic on the identity codes, so a mirrored rendering
    * of a gray-zone compound scores the same just-under-gate
    * fraction), so candidates nominate at the LOW gate over the
    * m181 asymmetric fan (lower doc identity codes vs higher doc
    * identity AND mirror readouts — the mirror readout keeps its
    * identity code's PHYSICAL anchor) and each candidate is
    * RANSAC-verified with the admitted map chirality matched to its
    * readout: orient 0 candidates need an orientation-PRESERVING
    * affine (det > 0, the m179 verifier), orient 1 candidates an
    * orientation-REVERSING one (det < 0) — a mirrored re-upload's
    * anchor clouds are related by exactly such a map, while a decoy
    * can no more satisfy a det < 0 map than a det > 0 one. Output
    * (doc_a, doc_b, orient, match_frac >= verifyMinFrac). */
  def imageAffineFramePairsChiralVerified(media: DataFrame,
      candMinMatch: Double = 0.004, candMinShared: Int = 4,
      verifyMinFrac: Double = 0.5, verifyMinAligned: Int = 9,
      tolPx: Double = 3.0, maxDf: Int = 0,
      f: ImageAffineFrameAnchored = ImageAffineFrameAnchored()): DataFrame =
    affineFramePairsChiralVerifiedFrom(Materialize.eager(f.landmarks(media)),
      candMinMatch, candMinShared, verifyMinFrac, verifyMinAligned,
      tolPx, maxDf)

  /** VERIFIED chiral affine-frame pairs for VIDEO (m188 — m183's
    * chirality-matched candidate+verify at the frame sequence): the
    * m187 chiral code gate inherits the identity gate's gray-zone
    * fragility verbatim (the mirror readout is pure code arithmetic
    * on the pooled frame codes), so candidates nominate at the LOW
    * gate over the asymmetric mirror fan of POOLED per-video anchored
    * codes and verify with the map chirality matched to the readout —
    * the re-rip transform (mirror x crop x rotation x squeeze) is ONE
    * orientation-reversing affine across all frames, so the pooled
    * anchor clouds align under exactly one det < 0 map, like the
    * m182 identity member's det > 0 one. verifyMinFrac 0.4 = the
    * video default (a trim costs the trimmed frames' anchors). */
  def videoAffineFramePairsChiralVerified(media: DataFrame,
      candMinMatch: Double = 0.004, candMinShared: Int = 4,
      verifyMinFrac: Double = 0.4, verifyMinAligned: Int = 9,
      tolPx: Double = 3.0, maxDf: Int = 0,
      f: VideoAffineFrameAnchored = VideoAffineFrameAnchored()): DataFrame =
    affineFramePairsChiralVerifiedFrom(Materialize.eager(f.landmarks(media)),
      candMinMatch, candMinShared, verifyMinFrac, verifyMinAligned,
      tolPx, maxDf)

  /** The m183 chirality-matched candidate+verify composition from any
    * ANCHORED landmark table (image m183 / video m188 share it): the
    * lower doc's identity codes bucket against the higher doc's
    * identity AND mirror readouts, candidates nominate at the low
    * gate, and each verifies under [[affineCloudVerifyUdf]] with the
    * admitted chirality matched to its readout (orient 0: det > 0,
    * orient 1: det < 0). */
  private[graft] def affineFramePairsChiralVerifiedFrom(id0: DataFrame,
      candMinMatch: Double, candMinShared: Int, verifyMinFrac: Double,
      verifyMinAligned: Int, tolPx: Double, maxDf: Int,
      gatherMaxPairs: Long = SurvivorGatherMaxPairs): DataFrame = {
    require(verifyMinFrac >= 0.0 && verifyMinFrac <= 1.0,
      "verifyMinFrac must be in [0, 1]")
    require(tolPx > 0.0, "tolPx must be > 0")
    val mir = udf((lm: Long) => mirrorAffineFrameCode(lm))
    val fan = id0.select(col("doc_id"), lit(0).as("orient"), col("lm"),
        col("ax"), col("ay"))
      .unionByName(id0.select(col("doc_id"), lit(1).as("orient"),
        mir(col("lm")).as("lm"), col("ax"), col("ay")))
    val nl = id0.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    val clouds = id0.select(col("doc_id"), col("ax"), col("ay"))
      .distinct().groupBy(col("doc_id"))
      .agg(collect_list(struct(col("ax"), col("ay"))).as("cloud"))
    val cand = verifiedCandidates(fan, nl, maxDf, candMinShared,
      candMinMatch, gatherMaxPairs)
    val verId = affineCloudVerifyUdf(tolPx, verifyMinAligned, 1)
    val verMir = affineCloudVerifyUdf(tolPx, verifyMinAligned, -1)
    cand
      .join(clouds.select(col("doc_id").as("doc_a"),
        col("cloud").as("cloud_a")), Seq("doc_a"))
      .join(clouds.select(col("doc_id").as("doc_b"),
        col("cloud").as("cloud_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("orient"),
        round(least(
          when(col("orient") === 1,
            verMir(col("corr"), col("cloud_a"), col("cloud_b")))
            .otherwise(
              verId(col("corr"), col("cloud_a"), col("cloud_b"))),
          lit(1.0)), 6).as("match_frac"))
      .filter(col("match_frac") >= verifyMinFrac)
  }

  /** ANCHORED affine-frame landmarks — one (doc_id, lm, ax, ay) row
    * per distinct code with the FIRST emitting anchor's coordinates:
    * the raw table behind the verified tier (m179/m180/st124). A pure
    * mapPartitions projection — streaming-safe (st124 runs it on a
    * file stream). */
  def imageAffineFrameLandmarksAnchored(media: DataFrame, kTop: Int, nNear: Int,
      nBasis: Int, qStep: Double, smoothR: Int, radius: Int, minAvg: Int,
      nPts: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            affineFrameCodesAnchored(
              coarsePeakCells(lumaPlane(img), img.getWidth,
                img.getHeight, smoothR, radius, minAvg),
              kTop, nNear, nBasis, qStep, nPts)
              .map { case (lm, ax, ay) => (r.doc_id, lm, ax, ay) }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "lm", "ax", "ay")
  }

  /** The affine-frame geometric verifier as a PUBLIC UDF (the st124
    * streaming member applies it batch-side over its sink): see
    * [[affineCloudVerifyUdf]] for the contract. */
  def affineCloudVerifier(tolPx: Double = 3.0,
      verifyMinAligned: Int = 9, detSign: Int = 1)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    affineCloudVerifyUdf(tolPx, verifyMinAligned, detSign)

  /** Screen an ingest batch against a pre-built
    * [[ImageAffineFrameAnchored]] index with GEOMETRIC VERIFICATION
    * (m180 — the m179 verdict at the incremental seam): candidates
    * nominate at the LOW code gate, each (probe, master) candidate is
    * RANSAC-verified from the matched codes' anchor correspondences
    * against the clouds both sides' tables already carry, and a probe
    * is a duplicate of the lowest verified master. Catches the
    * gray-zone compounds the plain [[ImageAffineFrame]] screen
    * screen drops, at the same <= 1-in-32k spurious level the m179
    * sweep measured. Enforces [[AffineFrameFpVersion]] and the anchor
    * columns. */
  def dedupAgainstImageAffineFrameIndexVerified(media: DataFrame,
      index: DataFrame, candMinMatch: Double = 0.004,
      candMinShared: Int = 4, verifyMinFrac: Double = 0.5,
      verifyMinAligned: Int = 9, tolPx: Double = 3.0,
      f: ImageAffineFrameAnchored = ImageAffineFrameAnchored()): DataFrame = {
    Postings.requireStamp(index, f.stamp, Seq("fp_ver", "ax", "ay"))
    val lms = Materialize.eager(f.landmarks(media))
    val nl = lms.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    val cloudsProbe = lms.select(col("doc_id"), col("ax"), col("ay"))
      .distinct().groupBy(col("doc_id"))
      .agg(collect_list(struct(col("ax"), col("ay"))).as("cloud_a"))
    val cloudsSrc = index
      .select(col("doc_id").as("src"), col("ax"), col("ay"))
      .distinct().groupBy(col("src"))
      .agg(collect_list(struct(col("ax"), col("ay"))).as("cloud_b"))
    // count-first, gather-later (round 17) — see
    // [[affineFramePairsVerifiedFrom]]: the correspondence lists only
    // materialize for (probe, src) pairs past the shared/minMatch
    // gates, so aggregation state stays at near-dup mass however hot
    // the index's codes are
    val joined = lms
      .join(index.select(col("lm"), col("ax").as("axb"),
        col("ay").as("ayb"), col("doc_id").as("src"),
        col("nl").as("nl_src")), Seq("lm"))
    // materialized (round 18): survivors are near-dup mass and the
    // set is read twice below — the r17 shape recomputed the whole
    // candidate aggregation for the final stats join
    val surv = Materialize.eager(joined
      .groupBy(col("doc_id"), col("src"), col("nl_src"))
      .agg(countDistinct(col("lm")).as("c"))
      .filter(col("c") >= math.max(1, candMinShared))
      .join(nl, Seq("doc_id"))
      .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
        >= candMinMatch))
    val cand = joined
      .select(col("doc_id"), col("src"),
        struct(col("ax"), col("ay"), col("axb"), col("ayb")).as("co"))
      .join(surv.select(col("doc_id"), col("src")),
        Seq("doc_id", "src"), "left_semi")
      .groupBy(col("doc_id"), col("src"))
      .agg(collect_list(col("co")).as("corr"))
      .join(surv, Seq("doc_id", "src"))
    val verify = affineCloudVerifyUdf(tolPx, verifyMinAligned)
    val dup = cand
      .join(cloudsProbe, Seq("doc_id"))
      .join(cloudsSrc, Seq("src"))
      .filter(verify(col("corr"), col("cloud_a"), col("cloud_b"))
        >= verifyMinFrac)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(nl.select(col("doc_id")), dup)
  }

  /** AFFINE-whitened rot codes pooled per VIDEO document — the m169
    * tier lifted to the frame sequence: every sampled frame whitens
    * to its own isotropic-covariance rendering before detection, so a
    * video that was TILTED and anamorphically re-ripped (both factors
    * unknown) lands where the rot-invariant and canonical video tiers
    * are structurally blind. One container walk, codes pooled
    * DISTINCT. */
  def videoAffineLandmarks(media: DataFrame, every: Int, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    require(kTop >= 5, "kTop must be >= 5 (a rot constellation is a 5-point code)")
    require(nNear >= 4 && nNear <= 16, "nNear must be in 4..16 (a rot code needs four co-peaks)")
    pooledFrameCodes(media, every)(b =>
      decodeImage(b).iterator.flatMap(affineCanonicalCodesRot(_, kTop, nNear,
        qStepR, nAng, smoothR, radius, minAvg)))
  }

  /** Version stamp for the CANONICAL (moment-isotropic) constellation
    * family ([[imageScaleLandmarksCanonical]] — squeeze estimator,
    * resample kernel, detection core, quad packing): namespaced
    * (canonical = 11100 + v); 11101 = v1. Distinct from the plain
    * constellation family's 11002 — canonical codes of anisotropic
    * content never match plain codes, so cross-family screens must
    * fail fast. Parameters are build choices, not covered. */
  val CanonFpVersion: Int = 11101

  // ---- IMAGE: rotation-invariant constellations (ANY angle) --------

  /** ROTATION-invariant constellation codes — the full 2D similarity
    * group (translation + uniform scale + rotation at ANY angle +
    * optional reflection via the pair metric's jitter absorption is
    * NOT included: reflection flips chirality, so mirrored re-uploads
    * go through the dihedral fan): per anchor A and distance-ordered
    * co-peak QUADRUPLE (B, C, D, E — a 5-point code), pack three log
    * distance-ratios (|AC|/|AB|, |AD|/|AB|, |AE|/|AB|), three angle
    * DIFFERENCES (ang(AC)-ang(AB), ang(AD)-ang(AB), ang(AE)-ang(AB),
    * all mod 2*pi — rotation cancels in the difference) and three
    * chirality bits. Five points, not four: dropping the absolute
    * angle costs so much entropy that 4-point rot codes measured only
    * ~80k DISTINCT values over a 32k-doc corpus (17M postings — 63%
    * of posting mass above the maxDf cap, recall collapse at corpus
    * scale), and re-quantizing finer traded the collapse for jitter
    * flips; the fifth point multiplies entropy by ~600 at unchanged
    * per-value stability. Small skews (the scanned-page / phone-photo class, 1-10
    * degrees) and arbitrary large rotations land identically; the
    * dihedral fan (90-degree grid) is structurally blind to both.
    *
    * Co-peaks are selected by VALUE rank (not nearest-distance, the
    * quad tier's choice): the rot code drops one absolute angle, and
    * with nearest-neighbor selection the surviving invariants
    * concentrate so badly (ratios near 1, correlated differences)
    * that the 32k-doc sweep collapsed through the maxDf cap exactly
    * like the v1 triples. Value-ranked co-peaks span the whole
    * canvas, spreading each log-ratio over ~15 bins instead of ~3 —
    * AND long distances make both the ratio and angle jitter
    * proportionally smaller (0.7 px on a 60 px baseline is 0.012 rad
    * against 15-degree bins). Box-sum values are rotation-invariant,
    * so the value ranking itself survives the transform up to
    * resampling jitter on near-ties; the chosen triple is then
    * canonically ordered by distance from the anchor. */
  private[operators] def constellationCodesRot(
      cells: scala.collection.Seq[(Int, Int, Int)], kTop: Int,
      nNear: Int, qStepR: Double, nAng: Int): Iterator[Long] = {
    val top = cells.sortBy { case (x, y, v) => (-v, x, y) }.take(kTop)
    val lms = scala.collection.mutable.LinkedHashSet.empty[Long]
    val binW = 2.0 * math.Pi / nAng
    val twoPi = 2.0 * math.Pi
    top.foreach { case (ax, ay, _) =>
      val nbrs = top.iterator
        .filter { case (bx, by, _) => bx != ax || by != ay }
        .take(nNear)
        .map { case (bx, by, _) =>
          val dx = (bx - ax).toDouble; val dy = (by - ay).toDouble
          (dx * dx + dy * dy, bx, by)
        }.toArray.sortBy { case (d2, bx, by) => (d2, bx, by) }
      var i = 0
      while (i < nbrs.length) {
        var j = i + 1
        while (j < nbrs.length) {
          var k = j + 1
          while (k < nbrs.length) {
            var l = k + 1
            while (l < nbrs.length) {
              val (d2b, bx, by) = nbrs(i)
              val (d2c, cx, cy) = nbrs(j)
              val (d2d, dx, dy) = nbrs(k)
              val (d2e, ex, ey) = nbrs(l)
              val qr1 = math.round(
                StrictMath.log(StrictMath.sqrt(d2c / d2b)) / qStepR)
              val qr2 = math.round(
                StrictMath.log(StrictMath.sqrt(d2d / d2b)) / qStepR)
              val qr3 = math.round(
                StrictMath.log(StrictMath.sqrt(d2e / d2b)) / qStepR)
              if (qr1 >= 0L && qr1 <= 63L && qr2 >= 0L && qr2 <= 63L &&
                qr3 >= 0L && qr3 <= 63L) {
                val angB = StrictMath.atan2((by - ay).toDouble,
                  (bx - ax).toDouble)
                @inline def diffBin(py: Int, px: Int): Long = {
                  val a = StrictMath.atan2((py - ay).toDouble,
                    (px - ax).toDouble)
                  val d = ((a - angB) % twoPi + twoPi) % twoPi
                  (d / binW).toLong % nAng
                }
                val q1 = diffBin(cy, cx)
                val q2 = diffBin(dy, dx)
                val q3 = diffBin(ey, ex)
                val s1 = if ((bx - ax).toLong * (cy - ay) -
                  (by - ay).toLong * (cx - ax) > 0L) 1L else 0L
                val s2 = if ((bx - ax).toLong * (dy - ay) -
                  (by - ay).toLong * (dx - ax) > 0L) 1L else 0L
                val s3 = if ((bx - ax).toLong * (ey - ay) -
                  (by - ay).toLong * (ex - ax) > 0L) 1L else 0L
                lms += ((((((qr1 * 64L + qr2) * 64L + qr3) * nAng + q1)
                  * nAng + q2) * nAng + q3) * 8L + s1 * 4L + s2 * 2L + s3)
              }
              l += 1
            }
            k += 1
          }
          j += 1
        }
        i += 1
      }
    }
    lms.iterator
  }

  /** Rotation-invariant constellation landmarks per document — the
    * [[imageScaleLandmarks]] contract at the [[constellationCodesRot]]
    * seam. */
  def imageRotScaleLandmarks(media: DataFrame, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): Dataset[DocLandmark] = {
    import s.implicits._
    require(kTop >= 5, "kTop must be >= 5 (a rot constellation is a 5-point code)")
    require(nNear >= 4 && nNear <= 16, "nNear must be in 4..16 (a rot code needs four co-peaks)")
    require(qStepR > 0.0, "qStepR must be > 0")
    require(nAng >= 4 && nAng <= 64, "nAng must be in 4..64")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            constellationCodesRot(
              coarsePeakCells(lumaPlane(img), img.getWidth,
                img.getHeight, smoothR, radius, minAvg), kTop, nNear,
              qStepR, nAng).map(DocLandmark(r.doc_id, _))
          case None => Iterator.empty
        }
      })
  }

  /** Version stamp for the ROTATION-invariant constellation family —
    * namespaced (12000 + v) so cross-family screens fail fast;
    * 12001 = v1. */
  val RotScaleFpVersion: Int = 12001

  /** Rotate-about-center (+ uniform scale) re-encode of any PNG
    * payload — the rotation tier's fixture transform: every output
    * pixel inverse-maps through rotation by `degrees` and scale
    * `factor` around the canvas center, bilinear-sampled with the
    * [[cropResizeRgb]] determinism contract (pure doubles + final
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

  // ---- VIDEO: the constellation tier per sampled frame (m147/m148) --

  /** Constellation landmarks pooled per VIDEO document — the m138
    * pooling shape at the constellation seam: every `every`-th
    * container frame decodes once, coarse peaks + quad codes per
    * frame, DISTINCT codes pooled per doc (order-free, so a leading
    * trim costs only the trimmed frames' unique codes). Closes the
    * cropped-then-RESCALED video re-upload (the 1080p->720p repost
    * shape) that the exact-pixel video peak tier (m138) and every
    * whole-frame/window tier miss structurally — interpolation
    * rewrites every frame byte. */
  def videoScaleLandmarks(media: DataFrame, every: Int, kTop: Int, nNear: Int,
      qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    pooledFrameCodes(media, every)(b =>
      decodeImage(b).iterator.flatMap(img => constellationCodes(
        coarsePeakCells(lumaPlane(img), img.getWidth, img.getHeight,
          smoothR, radius, minAvg), kTop, nNear, qStepR, nAng)))
  }

  /** ROTATION-invariant constellation landmarks pooled per VIDEO
    * document — the m147 pooling shape at the [[constellationCodesRot]]
    * seam: a re-upload rotated at ANY angle (the sideways-phone
    * class), rescaled, and/or trimmed lands where the plain video
    * constellation tier (rotation-variant) and every exact-pixel
    * video tier miss. One container walk, codes pooled DISTINCT. */
  def videoRotScaleLandmarks(media: DataFrame, every: Int, kTop: Int,
      nNear: Int, qStepR: Double, nAng: Int, smoothR: Int, radius: Int,
      minAvg: Int)(implicit s: SparkSession): DataFrame = {
    require(kTop >= 5, "kTop must be >= 5 (a rot constellation is a 5-point code)")
    require(nNear >= 4 && nNear <= 16, "nNear must be in 4..16 (a rot code needs four co-peaks)")
    pooledFrameCodes(media, every)(b =>
      decodeImage(b).iterator.flatMap(img => constellationCodesRot(
        coarsePeakCells(lumaPlane(img), img.getWidth, img.getHeight,
          smoothR, radius, minAvg), kTop, nNear, qStepR, nAng)))
  }

  /** Aspect-HYPOTHESIS constellation landmarks pooled per VIDEO
    * document — the anamorphic-rip class (a 4:3 master re-encoded at
    * 16:9 stretches every frame's x by 4/3): per sampled frame the
    * peak geometry re-renders under each inverse factor
    * (detection once per frame), distinct (hypothesis, code) rows
    * pooled per doc. hyps(0) MUST be 1.0 (the identity rows are what
    * register in state/indexes). */
  def videoScaleLandmarksAspect(media: DataFrame, hyps: Seq[Double], every: Int,
      kTop: Int, nNear: Int, qStepR: Double, nAng: Int, smoothR: Int,
      radius: Int, minAvg: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    require(hyps.nonEmpty && hyps.head == 1.0,
      "hyps(0) must be the identity 1.0 (the registering readout)")
    require(hyps.forall(g => g > 0.0), "hypothesis factors must be > 0")
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val set = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
            fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .foreach { f =>
                decodeImage(f._1).foreach { img =>
                  val cells = coarsePeakCells(lumaPlane(img),
                    img.getWidth, img.getHeight, smoothR, radius, minAvg)
                  hyps.iterator.zipWithIndex.foreach { case (g, hi) =>
                    val t =
                      if (g == 1.0) cells
                      else cells.map { case (x, y, v) =>
                        (math.round(g * x).toInt, y, v) }
                    constellationCodes(t, kTop, nNear, qStepR, nAng)
                      .foreach(lm => set += ((hi, lm)))
                  }
                }
              }
            set.iterator.map { case (hi, lm) => (r.doc_id, hi, lm) }
          case None => Iterator.empty
        }
      }).toDF("doc_id", "orient", "lm")
  }

  /** Anamorphic re-mux of any decodable video payload — x scaled by
    * `fx` per frame through the bilinear kernel ([[cropResizeRgb]]
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

  /** The scale-tier fixtures' shared bilinear kernel: pixels
    * (x0..x1) x (y0..y1) of `img` resampled to (outW, outH) — pure
    * doubles + final round, deterministic across JVMs (unlike
    * Graphics2D's platform-delegated scaling). Source coordinates
    * clamp at the crop edges (half-pixel centers). */
  private def cropResizeRgb(img: java.awt.image.BufferedImage, x0: Int,
      y0: Int, x1: Int, y1: Int, outW: Int,
      outH: Int): java.awt.image.BufferedImage = {
    require(x0 >= 0 && y0 >= 0 && x1 <= img.getWidth &&
      y1 <= img.getHeight && x0 < x1 && y0 < y1,
      "crop rect must be inside the source")
    val cw = x1 - x0; val ch = y1 - y0
    val out = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var oy = 0
    while (oy < outH) {
      val sy = y0 + (oy + 0.5) * ch / outH - 0.5
      val iy = math.max(y0, math.min(y1 - 2, StrictMath.floor(sy).toInt))
      val fy = math.max(0.0, math.min(1.0, sy - iy))
      var ox = 0
      while (ox < outW) {
        val sx = x0 + (ox + 0.5) * cw / outW - 0.5
        val ix = math.max(x0, math.min(x1 - 2, StrictMath.floor(sx).toInt))
        val fx = math.max(0.0, math.min(1.0, sx - ix))
        val p00 = img.getRGB(ix, iy); val p10 = img.getRGB(ix + 1, iy)
        val p01 = img.getRGB(ix, iy + 1); val p11 = img.getRGB(ix + 1, iy + 1)
        @inline def ch8(p: Int, s: Int): Double = ((p >> s) & 0xff).toDouble
        @inline def lerp(s: Int): Int = math.round(
          (1 - fy) * ((1 - fx) * ch8(p00, s) + fx * ch8(p10, s)) +
            fy * ((1 - fx) * ch8(p01, s) + fx * ch8(p11, s))).toInt
        out.setRGB(ox, oy, (lerp(16) << 16) | (lerp(8) << 8) | lerp(0))
        ox += 1
      }
      oy += 1
    }
    out
  }

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
    * as [[syntheticAvi]]'s DIB leg, so [[containerFrames]] reads the
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
    * [[cropResizeRgb]] bilinear kernel, re-muxed as uncompressed DIB
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

  // ---- VIDEO: minimal RIFF/AVI container ----------------------------
  // Container semantics per the public AVI RIFF form (cf. reference
  // multimodal sources' opaque-binary treatment): LIST hdrl carries
  // avih + per-stream strl(strh, strf); LIST movi carries the frame
  // chunks, 'NNdb' = uncompressed DIB, 'NNdc' = compressed (MJPEG =
  // one JPEG per chunk). Plain-JVM end to end: javax.imageio decodes
  // the extracted frames, no external codec.

  @inline private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Parse a RIFF/AVI payload into per-frame IMAGE payloads the
    * [[pHash64]] / feature path can read directly: 'NNdc' chunks pass
    * through (MJPEG — each chunk is a standalone JPEG), 'NNdb' raw DIB
    * chunks are wrapped with a BITMAPFILEHEADER plus the stream's
    * BITMAPINFOHEADER (the hdrl strf) into a standalone BMP. Frames
    * come back in movi order. None when the payload is not RIFF/AVI;
    * structurally broken chunk tables stop the walk at the damage
    * (frames before it still return) — ingest-safe, never throws. */
  private[operators] def aviFrames(payload: Array[Byte]): Option[Vector[Array[Byte]]] = {
    if (payload.length < 12 || fourcc(payload, 0) != "RIFF" ||
      fourcc(payload, 8) != "AVI ") return None
    try {
      var strf: Array[Byte] = null
      val frames = Vector.newBuilder[Array[Byte]]
      def isFrameId(id: String, suffix: String): Boolean =
        id.length == 4 && id(0).isDigit && id(1).isDigit &&
          id.substring(2) == suffix
      def walk(from: Int, to: Int, depth: Int = 0): Unit = {
        if (depth > 32) return // crafted deep nesting must not blow the stack
        var off = from
        var ok = true
        while (ok && off + 8 <= to) {
          val id = fourcc(payload, off)
          val size = le32(payload, off + 4)
          val data = off + 8
          // bound check in Long: an adversarial size near Int.MaxValue
          // would overflow `data + size` negative and slip past an Int
          // guard, making copyOfRange throw and the NonFatal catch drop
          // ALL frames — the documented contract is that frames before
          // the damage still return
          if (size < 0 || data.toLong + size > to) ok = false
          else {
            if (id == "LIST" && size >= 4) walk(data + 4, data + size, depth + 1)
            else if (id == "strf" && strf == null)
              strf = java.util.Arrays.copyOfRange(payload, data, data + size)
            else if (isFrameId(id, "dc") && size > 0)
              frames += java.util.Arrays.copyOfRange(payload, data, data + size)
            else if (isFrameId(id, "db") && size > 0 && strf != null) {
              val bmp = new Array[Byte](14 + strf.length + size)
              bmp(0) = 'B'; bmp(1) = 'M'
              var v = bmp.length
              var i = 2
              while (i < 6) { bmp(i) = (v & 0xff).toByte; v >>>= 8; i += 1 }
              v = 14 + strf.length
              i = 10
              while (i < 14) { bmp(i) = (v & 0xff).toByte; v >>>= 8; i += 1 }
              System.arraycopy(strf, 0, bmp, 14, strf.length)
              System.arraycopy(payload, data, bmp, 14 + strf.length, size)
              frames += bmp
            }
            off = data + size + (size & 1)
          }
        }
      }
      walk(12, payload.length)
      Some(frames.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Extract the first audio ('auds') stream of a RIFF/AVI payload as a
    * standalone PCM16 WAV the [[decodeWav]] fingerprint path reads
    * directly — video files join the audio dedup tier through this
    * (same-audio different-video re-uploads: reaction videos, reposted
    * clips with a new title card). The hdrl walk notes which strl
    * index carries 'auds' and its WAVEFORMAT strf; the movi walk
    * concatenates that stream's 'NNwb' chunks in order (chunking is an
    * interleaving artifact — the PCM stream is their concatenation).
    * None when there is no auds stream, the format is not PCM16, or no
    * wb chunk carries data; structurally broken tables stop the walk
    * at the damage (audio before it still returns), never throw. */
  private[operators] def aviAudioWav(payload: Array[Byte]): Option[Array[Byte]] = {
    if (payload.length < 12 || fourcc(payload, 0) != "RIFF" ||
      fourcc(payload, 8) != "AVI ") return None
    try {
      var nStreams = 0
      var audioIdx = -1
      var fmt: Array[Byte] = null
      var pendingType: String = null
      val pcm = new java.io.ByteArrayOutputStream()
      def walk(from: Int, to: Int, depth: Int = 0): Unit = {
        if (depth > 32) return // crafted deep nesting must not blow the stack
        var off = from
        var ok = true
        while (ok && off + 8 <= to) {
          val id = fourcc(payload, off)
          val size = le32(payload, off + 4)
          val data = off + 8
          if (size < 0 || data.toLong + size > to) ok = false
          else {
            if (id == "LIST" && size >= 4) {
              val inner = fourcc(payload, data)
              walk(data + 4, data + size, depth + 1)
              if (inner == "strl") nStreams += 1
            }
            else if (id == "strh" && size >= 4)
              pendingType = fourcc(payload, data)
            else if (id == "strf" && pendingType == "auds" && fmt == null) {
              audioIdx = nStreams // index of the strl being walked
              fmt = java.util.Arrays.copyOfRange(payload, data, data + size)
              pendingType = null
            }
            else if (audioIdx >= 0 && size > 0 &&
                id == f"$audioIdx%02dwb")
              pcm.write(payload, data, size)
            off = data + size + (size & 1)
          }
        }
      }
      walk(12, payload.length)
      if (fmt == null || fmt.length < 16 || pcm.size == 0) return None
      val fmtTag = le16(fmt, 0); val ch = le16(fmt, 2)
      val rate = le32(fmt, 4); val bits = le16(fmt, 14)
      if (fmtTag != 1 || bits != 16 || ch < 1 || rate <= 0) return None
      Some(pcmToWav(pcm.toByteArray, ch, rate))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Wrap raw little-endian PCM16 in a canonical 44-byte WAV header —
    * the standalone payload [[decodeWav]] reads. Shared by the AVI
    * ('NNwb' concat) and MP4 ('sowt' sample concat) extractors. */
  private def pcmToWav(data: Array[Byte], ch: Int, rate: Int): Array[Byte] = {
    val out = new Array[Byte](44 + data.length)
    def putAscii(o: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(o + i) = s.charAt(i).toByte; i += 1 } }
    def put16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte }
    def put32(o: Int, v: Int): Unit = {
      put16(o, v & 0xffff); put16(o + 2, (v >>> 16) & 0xffff) }
    putAscii(0, "RIFF"); put32(4, 36 + data.length); putAscii(8, "WAVE")
    putAscii(12, "fmt "); put32(16, 16); put16(20, 1); put16(22, ch)
    put32(24, rate); put32(28, rate * ch * 2); put16(32, ch * 2)
    put16(34, 16)
    putAscii(36, "data"); put32(40, data.length)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** One (doc_id, payload) row per AVI or MP4 payload whose audio track
    * extracts to PCM16 WAV ([[containerAudioWav]]) — the adapter that feeds
    * video files into the audio near-dup tier ([[AudioLandmark]],
    * [[AudioCode]], the st73/st74 streaming forms). One
    * mapPartitions pass, no shuffle; payloads without an extractable
    * audio track emit no row. */
  def videoAudioTracks(media: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap(r =>
        containerAudioWav(r.payload).map(w => MediaRow(r.doc_id, w))))
      .toDF()
  }

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

  // ---- VIDEO: minimal ISO-BMFF (MP4/QuickTime) container ------------
  // Box grammar per the public ISO/IEC 14496-12 base-media format (cf.
  // reference multimodal sources' opaque-binary treatment): big-endian
  // size+type headers, `moov` carrying per-`trak` sample tables (stsd
  // codec entry, stsz sizes, stsc sample→chunk runs, stco/co64 chunk
  // offsets), raw samples in `mdat` addressed by ABSOLUTE file offset.
  // MJPEG-class video ('jpeg'/'mjpa' — each sample a standalone JPEG)
  // and PCM16 audio ('sowt' LE / 'twos' BE) decode in plain JVM, the
  // same codec legs the AVI walk feeds.

  /** One parsed MP4 track: its sample table flattened to what the
    * extractors need. `sizes`/`offsets`/`stsc` drive the moov-resident
    * samples in [[mp4Samples]]; `frag` carries (offset, size) runs from
    * `moof`/`trun` fragments (fMP4 — the DASH/HLS streaming mux, where
    * the moov tables are empty and samples arrive per fragment); the
    * audio fields come from the stsd sample entry. */
  private[operators] case class Mp4Track(handler: String, codec: String,
      sizes: Array[Int], offsets: Array[Long], stsc: Array[(Int, Int)],
      channels: Int, rate: Int, bits: Int, trackId: Int = 0,
      frag: Array[(Long, Int)] = Array.empty)

  /** Walk an ISO-BMFF payload's box tree into its tracks. None when the
    * payload is not BMFF (first root box must be `ftyp`); structurally
    * broken boxes stop the walk at the damage (tracks parsed before it
    * still return) — ingest-safe, never throws. Bounds are checked in
    * Long: 64-bit largesize boxes and adversarial 32-bit sizes near
    * Int.MaxValue must not overflow the guards (the aviFrames lesson). */
  private[operators] def mp4Tracks(payload: Array[Byte]): Option[Vector[Mp4Track]] = {
    if (payload.length < 12 || fourcc(payload, 4) != "ftyp") return None
    try {
      val tracks = Vector.newBuilder[Mp4Track]
      // per-trak accumulator state, reset at each `trak` box
      var handler = ""; var codec = ""
      var channels = 0; var rate = 0; var bits = 0
      var trackId = 0
      var sizes: Array[Int] = null
      var offsets: Array[Long] = null
      var stscE: Array[(Int, Int)] = null
      // fragment (moof/traf/trun) accumulator state: runs per track id
      val fragRuns = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Int)]]
      var moofStart = 0
      var fragTrack = 0; var fragBase = 0L; var fragDefSize = 0
      def walk(from: Int, to: Int, depth: Int = 0): Unit = {
        if (depth > 32) return // crafted deep nesting must not blow the stack
        var off = from
        var ok = true
        while (ok && off + 8 <= to) {
          val size0 = be32(payload, off)
          val tp = fourcc(payload, off + 4)
          var hdr = 8
          val size: Long =
            if (size0 == 1 && off + 16 <= to) { hdr = 16; be64(payload, off + 8) }
            else if (size0 == 0) (to - off).toLong // box runs to container end
            else size0.toLong
          if (size < hdr || off.toLong + size > to) ok = false
          else {
            val data = off + hdr
            val end = (off + size).toInt
            tp match {
              case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
                if (tp == "trak") {
                  handler = ""; codec = ""; channels = 0; rate = 0; bits = 0
                  trackId = 0; sizes = null; offsets = null; stscE = null
                }
                walk(data, end, depth + 1)
                if (tp == "trak" && handler.nonEmpty &&
                    sizes != null && offsets != null)
                  tracks += Mp4Track(handler, codec, sizes, offsets,
                    if (stscE == null || stscE.isEmpty) Array((1, 1)) else stscE,
                    channels, rate, bits, trackId)
              case "moof" | "traf" =>
                if (tp == "moof") moofStart = off
                else { fragTrack = 0; fragBase = moofStart.toLong; fragDefSize = 0 }
                walk(data, end, depth + 1)
              case "tkhd" if end - data >= 16 =>
                // track_ID sits past the two timestamps, whose width is
                // the version's (v1 = 64-bit)
                trackId =
                  if (payload(data) == 1 && end - data >= 24)
                    be32(payload, data + 20)
                  else be32(payload, data + 12)
              case "tfhd" if end - data >= 8 =>
                val flags = be32(payload, data) & 0xffffff
                fragTrack = be32(payload, data + 4)
                var p = data + 8
                if ((flags & 0x01) != 0 && end - p >= 8) { // base-data-offset
                  fragBase = be64(payload, p); p += 8
                }
                if ((flags & 0x02) != 0) p += 4 // sample-description-index
                if ((flags & 0x08) != 0) p += 4 // default-sample-duration
                if ((flags & 0x10) != 0 && end - p >= 4) // default-sample-size
                  fragDefSize = be32(payload, p)
              case "trun" if end - data >= 8 =>
                val flags = be32(payload, data) & 0xffffff
                val cnt = be32(payload, data + 4)
                if (fragTrack > 0 && cnt >= 0 && cnt <= payload.length) {
                  var p = data + 8
                  var sOff = fragBase
                  if ((flags & 0x01) != 0 && end - p >= 4) { // data-offset
                    sOff = fragBase + be32(payload, p); p += 4
                  }
                  if ((flags & 0x04) != 0) p += 4 // first-sample-flags
                  val perSample = // bytes per sample row in the run table
                    (if ((flags & 0x100) != 0) 4 else 0) +
                    (if ((flags & 0x200) != 0) 4 else 0) +
                    (if ((flags & 0x400) != 0) 4 else 0) +
                    (if ((flags & 0x800) != 0) 4 else 0)
                  if (p + perSample.toLong * cnt <= end) {
                    val runs = fragRuns.getOrElseUpdate(fragTrack,
                      scala.collection.mutable.ArrayBuffer.empty)
                    var i = 0
                    while (i < cnt) {
                      var q = p + i * perSample
                      if ((flags & 0x100) != 0) q += 4 // skip duration
                      val sz =
                        if ((flags & 0x200) != 0) be32(payload, q)
                        else fragDefSize
                      if (sz > 0) { runs += ((sOff, sz)); sOff += sz }
                      i += 1
                    }
                  }
                }
              case "hdlr" if end - data >= 12 =>
                handler = fourcc(payload, data + 8)
              case "stsd" if end - data >= 16 =>
                val e = data + 8 // first sample entry (count >= 1 assumed)
                codec = fourcc(payload, e + 4)
                if (end - e >= 36) { // AudioSampleEntry v0 fields
                  channels = be16(payload, e + 24)
                  bits = be16(payload, e + 26)
                  rate = be16(payload, e + 32) // 16.16 fixed, integer part
                }
              case "stsz" if end - data >= 12 =>
                val uniform = be32(payload, data + 4)
                val cnt = be32(payload, data + 8)
                if (cnt >= 0 && cnt <= payload.length) {
                  if (uniform > 0) sizes = Array.fill(cnt)(uniform)
                  else if (data + 12 + 4L * cnt <= end)
                    sizes = Array.tabulate(cnt)(i => be32(payload, data + 12 + 4 * i))
                }
              case "stco" if end - data >= 8 =>
                val cnt = be32(payload, data + 4)
                if (cnt >= 0 && data + 8 + 4L * cnt <= end)
                  offsets = Array.tabulate(cnt)(i =>
                    be32(payload, data + 8 + 4 * i).toLong & 0xffffffffL)
              case "co64" if end - data >= 8 =>
                val cnt = be32(payload, data + 4)
                if (cnt >= 0 && data + 8 + 8L * cnt <= end)
                  offsets = Array.tabulate(cnt)(i => be64(payload, data + 8 + 8 * i))
              case "stsc" if end - data >= 8 =>
                val cnt = be32(payload, data + 4)
                if (cnt >= 0 && data + 8 + 12L * cnt <= end)
                  stscE = Array.tabulate(cnt)(i => (
                    be32(payload, data + 8 + 12 * i),
                    be32(payload, data + 12 + 12 * i)))
              case _ => () // mdat, ftyp, free, and leaves we don't read
            }
            off = end
          }
        }
      }
      walk(0, payload.length)
      Some(tracks.result().map(t =>
        fragRuns.get(t.trackId) match {
          case Some(runs) if runs.nonEmpty => t.copy(frag = runs.toArray)
          case _ => t
        }))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Slice a track's samples out of the payload in sample order via the
    * stsc chunk runs: chunk c (1-based) holds the samples-per-chunk of
    * the last stsc entry whose first_chunk <= c, laid out back to back
    * from the chunk's stco offset. Stops at the first out-of-bounds
    * slice (samples before the damage still return). */
  private def mp4Samples(payload: Array[Byte], t: Mp4Track): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    val n = t.sizes.length
    var sample = 0
    var chunk = 1
    var ci = 0
    while (sample < n && chunk <= t.offsets.length) {
      while (ci + 1 < t.stsc.length && t.stsc(ci + 1)._1 <= chunk) ci += 1
      val spc = t.stsc(ci)._2
      var off = t.offsets(chunk - 1)
      var k = 0
      while (k < spc && sample < n) {
        val sz = t.sizes(sample)
        if (sz < 0 || off < 0 || off + sz > payload.length) return out.result()
        out += java.util.Arrays.copyOfRange(payload, off.toInt, (off + sz).toInt)
        off += sz; sample += 1; k += 1
      }
      chunk += 1
    }
    // fragment (trun) runs follow the moov-resident samples in file
    // order — for fMP4 the moov tables are empty and this IS the stream
    var fi = 0
    while (fi < t.frag.length) {
      val (off, sz) = t.frag(fi)
      if (sz < 0 || off < 0 || off + sz > payload.length) return out.result()
      out += java.util.Arrays.copyOfRange(payload, off.toInt, (off + sz).toInt)
      fi += 1
    }
    out.result()
  }

  private val mjpegCodecs = Set("jpeg", "mjpa", "MJPG", "mjpg")

  /** Parse an MP4 payload into per-frame IMAGE payloads the [[pHash64]]
    * path reads directly: the first `vide` track whose stsd codec is
    * MJPEG-class yields its samples verbatim (each is a standalone
    * JPEG). Some(empty) for an MP4 whose video codec we cannot decode;
    * None for non-BMFF payloads. */
  private[operators] def mp4Frames(payload: Array[Byte]): Option[Vector[Array[Byte]]] =
    mp4Tracks(payload).map { ts =>
      ts.find(t => t.handler == "vide" && mjpegCodecs(t.codec))
        .map(t => mp4Samples(payload, t))
        .getOrElse(Vector.empty)
    }

  /** Extract the first PCM16 `soun` track of an MP4 payload as a
    * standalone WAV — the MP4 leg of [[videoAudioTracks]]. 'sowt'
    * samples are little-endian PCM16 verbatim; 'twos' is the same PCM
    * big-endian, byte-swapped here. None when there is no such track,
    * the sample entry is not 16-bit, or no sample bytes survive the
    * bounds walk. */
  private[operators] def mp4AudioWav(payload: Array[Byte]): Option[Array[Byte]] =
    mp4Tracks(payload).flatMap { ts =>
      ts.find(t => t.handler == "soun" &&
          (t.codec == "sowt" || t.codec == "twos") &&
          t.bits == 16 && t.channels >= 1 && t.rate > 0)
        .flatMap { t =>
          val chunks = mp4Samples(payload, t)
          val total = chunks.iterator.map(_.length).sum
          if (total == 0) None
          else {
            val data = new Array[Byte](total)
            var o = 0
            chunks.foreach { c =>
              System.arraycopy(c, 0, data, o, c.length); o += c.length }
            if (t.codec == "twos") {
              var i = 0
              while (i + 1 < data.length) {
                val b = data(i); data(i) = data(i + 1); data(i + 1) = b; i += 2 }
            }
            Some(pcmToWav(data, t.channels, t.rate))
          }
        }
    }

  /** Container-agnostic frame extraction: RIFF/AVI, ISO-BMFF, or
    * Matroska/WebM, by magic. Each probe is a prefix check of a few
    * bytes, so the dispatch costs nothing on the wrong container.
    * Every video-tier operator goes through this, so AVI, MP4 and MKV
    * corpora mix freely — including cross-container re-uploads (same
    * frames, different mux). */
  private[operators] def containerFrames(payload: Array[Byte]): Option[Vector[Array[Byte]]] =
    aviFrames(payload).orElse(mp4Frames(payload)).orElse(mkvFrames(payload))

  /** Container-agnostic audio-track extraction (the [[containerFrames]]
    * twin): AVI 'NNwb' concat, MP4 PCM sample concat, or Matroska
    * PCM block concat, as WAV. */
  private[operators] def containerAudioWav(payload: Array[Byte]): Option[Array[Byte]] =
    aviAudioWav(payload).orElse(mp4AudioWav(payload)).orElse(mkvAudioWav(payload))

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

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  // ---- VIDEO: Matroska/WebM (EBML) container ------------------------
  // EBML grammar per the public Matroska spec (RFC 8794): every element
  // is (vint id, vint size, payload); masters nest. The walk covers
  // exactly what the extractors need — Tracks (track number, type,
  // codec, audio params) and Cluster frame data via SimpleBlock or
  // BlockGroup>Block. MJPEG-class video ("V_MJPEG" directly, or the
  // VfW compatibility mux "V_MS/VFW/FOURCC" whose CodecPrivate
  // BITMAPINFOHEADER says 'MJPG') and PCM16 audio ("A_PCM/INT/LIT")
  // decode in plain JVM — the same codec legs the AVI and MP4 walks
  // feed, so a Matroska re-mux of the same stream is byte-identical at
  // the frame level (cf. reference multimodal sources treating video
  // as opaque binary: agnostic-blockchain-etl has no video tier; this
  // extends the engine's multimodal ladder).

  /** One parsed Matroska track: number (block addressing), type
    * (1=video, 2=audio), codec id string, audio params from the Audio
    * master, and CodecPrivate (the VfW BITMAPINFOHEADER leg). */
  private[operators] case class MkvTrack(num: Long, ttype: Int,
      codec: String, channels: Int, rate: Int, bits: Int,
      codecPrivate: Array[Byte] = Array.emptyByteArray)

  /** EBML vint at `off` with the length-marker bit STRIPPED (size /
    * block-track-number semantics): (value, width), or null when
    * truncated or markerless (a zero first byte). */
  private def ebmlVint(p: Array[Byte], off: Int, to: Int): (Long, Int) = {
    if (off >= to) return null
    val b0 = p(off) & 0xff
    if (b0 == 0) return null
    val w = java.lang.Integer.numberOfLeadingZeros(b0) - 23 // 1..8
    if (off + w > to) return null
    var v = (b0 & (0xff >>> w)).toLong
    var i = 1
    while (i < w) { v = (v << 8) | (p(off + i) & 0xff); i += 1 }
    (v, w)
  }

  /** EBML element id at `off`: ids KEEP their marker bit (that is how
    * the spec tables list them — TrackEntry is 0xAE, Cluster is
    * 0x1F43B675). (id, width), or null when truncated / wider than the
    * 4-byte id ceiling. */
  private def ebmlIdAt(p: Array[Byte], off: Int, to: Int): (Int, Int) = {
    if (off >= to) return null
    val b0 = p(off) & 0xff
    if (b0 == 0) return null
    val w = java.lang.Integer.numberOfLeadingZeros(b0) - 23
    if (w > 4 || off + w > to) return null
    var v = 0
    var i = 0
    while (i < w) { v = (v << 8) | (p(off + i) & 0xff); i += 1 }
    (v, w)
  }

  /** Walk a Matroska payload into (tracks, blocks-in-file-order). A
    * block is (track number, data start, data end) — a SLICE into the
    * payload, not a copy, so an extractor that wants one track's
    * blocks never pays for the others' bytes — from a SimpleBlock or a
    * BlockGroup>Block. Laced blocks (Xiph / fixed / EBML lacing — real
    * WebM PCM is routinely laced) emit one slice per laced frame, in
    * order; malformed lacing skips the whole block. None for non-EBML
    * payloads; structural damage stops the walk at the fault (tracks
    * and blocks before it still return) — ingest-safe, never throws.
    * Unknown-size masters (the streaming-mux Segment/Cluster form) run
    * to the end of their container, as the spec prescribes. */
  private[operators] def mkvBlocks(payload: Array[Byte])
      : Option[(Vector[MkvTrack], Vector[(Long, Int, Int)])] = {
    if (payload.length < 4 || be32(payload, 0) != 0x1A45DFA3) return None
    try {
      val tracks = Vector.newBuilder[MkvTrack]
      val blocks = Vector.newBuilder[(Long, Int, Int)]
      // per-TrackEntry accumulator state, reset at each TrackEntry
      var tNum = 0L; var tType = 0; var tCodec = ""
      var tCh = 0; var tRate = 0; var tBits = 0
      var tPriv: Array[Byte] = Array.emptyByteArray
      def uint(from: Int, end: Int): Long = {
        var v = 0L; var i = from
        while (i < end) { v = (v << 8) | (payload(i) & 0xff); i += 1 }
        v
      }
      // Block / SimpleBlock body: track vint, 2-byte relative
      // timecode, flags. Flags bits 0x06 select the lacing: 00 none,
      // 01 Xiph (255-run sizes), 10 fixed (equal split), 11 EBML
      // (first size a vint, then signed-vint deltas). Laced frames
      // emit IN ORDER as independent block slices — real WebM PCM is
      // routinely laced, so skipping them would silently drop the
      // audio tier's bytes. Any malformed lacing (truncated size run,
      // non-dividing fixed split, delta under/overflow) skips the
      // WHOLE block: partial frames never emit (skip beats misparse).
      def readBlock(from: Int, end: Int): Unit = {
        val tn = ebmlVint(payload, from, end)
        if (tn == null) return
        val hdr = from + tn._2 + 3 // 2-byte relative timecode + flags
        if (hdr > end) return
        val flags = payload(hdr - 1) & 0xff
        val lacing = flags & 0x06
        if (lacing == 0) {
          if (hdr < end) blocks += ((tn._1, hdr, end))
          return
        }
        if (hdr >= end) return
        val n = (payload(hdr) & 0xff) + 1
        var off = hdr + 1
        val sizes = new Array[Long](n)
        var ok = true
        lacing match {
          case 0x02 => // Xiph: n-1 sizes, each a 255-run + terminator
            var i = 0
            while (ok && i < n - 1) {
              var sz = 0L
              var more = true
              while (ok && more) {
                if (off >= end) ok = false
                else {
                  val b = payload(off) & 0xff
                  off += 1
                  sz += b
                  more = b == 0xff
                }
              }
              sizes(i) = sz
              i += 1
            }
          case 0x04 => // fixed: data splits equally or not at all
            val total = (end - off).toLong
            if (total % n != 0) ok = false
            else java.util.Arrays.fill(sizes, total / n)
          case _ => // 0x06 EBML: unsigned first size, signed deltas
            if (n > 1) {
              val s0 = ebmlVint(payload, off, end)
              if (s0 == null) ok = false
              else {
                sizes(0) = s0._1
                off += s0._2
                var prev = s0._1
                var i = 1
                while (ok && i < n - 1) {
                  val d = ebmlVint(payload, off, end)
                  if (d == null) ok = false
                  else {
                    off += d._2
                    prev += d._1 - ((1L << (7 * d._2 - 1)) - 1)
                    if (prev < 0) ok = false else sizes(i) = prev
                  }
                  i += 1
                }
              }
            }
        }
        if (ok && lacing != 0x04) {
          // last frame is the remainder of the block
          var used = 0L
          var i = 0
          while (i < n - 1) { used += sizes(i); i += 1 }
          val rest = (end - off).toLong - used
          if (rest < 0) ok = false else sizes(n - 1) = rest
        }
        if (ok) {
          val frames = new Array[(Long, Int, Int)](n)
          var s = off.toLong
          var j = 0
          while (ok && j < n) {
            val e = s + sizes(j)
            if (sizes(j) <= 0 || e > end) ok = false
            else { frames(j) = (tn._1, s.toInt, e.toInt); s = e; j += 1 }
          }
          if (ok) frames.foreach(blocks += _)
        }
      }
      def walk(from: Int, to: Int, depth: Int = 0): Unit = {
        if (depth > 32) return // crafted deep nesting must not blow the stack
        var off = from
        var ok = true
        while (ok && off < to) {
          val idw = ebmlIdAt(payload, off, to)
          val sz = if (idw == null) null
            else ebmlVint(payload, off + idw._2, to)
          if (sz == null) ok = false
          else {
            val data = off + idw._2 + sz._2
            // all-value-bits-set = unknown size: runs to container end
            val unknown = sz._1 == (1L << (7 * sz._2)) - 1
            val end0 = if (unknown) to.toLong else data.toLong + sz._1
            if (end0 > to) {
              // a TRUNCATED master (the mid-transfer / damaged-tail
              // payload): walk the surviving prefix — blocks and tracks
              // before the damage still return. Truncated leaves (and
              // half TrackEntries) drop; the walk ends either way.
              idw._1 match {
                case 0x18538067 | 0x1654AE6B | 0x1F43B675 | 0xA0 =>
                  walk(data, to, depth + 1)
                case _ => ()
              }
              ok = false
            }
            else {
              val end = end0.toInt
              idw._1 match {
                case 0x18538067 | 0x1654AE6B | 0x1F43B675 | 0xA0 =>
                  walk(data, end, depth + 1) // Segment, Tracks, Cluster, BlockGroup
                case 0xAE => // TrackEntry
                  tNum = 0; tType = 0; tCodec = ""; tCh = 0; tRate = 0
                  tBits = 0; tPriv = Array.emptyByteArray
                  walk(data, end, depth + 1)
                  if (tNum > 0)
                    tracks += MkvTrack(tNum, tType, tCodec, tCh, tRate,
                      tBits, tPriv)
                case 0xE1 => walk(data, end, depth + 1) // Audio settings master
                case 0xD7 => tNum = uint(data, end) // TrackNumber
                case 0x83 => tType = uint(data, end).toInt // TrackType
                case 0x86 => // CodecID
                  tCodec = new String(payload, data, end - data, "US-ASCII")
                case 0x63A2 => // CodecPrivate
                  tPriv = java.util.Arrays.copyOfRange(payload, data, end)
                case 0x9F => tCh = uint(data, end).toInt // Channels
                case 0x6264 => tBits = uint(data, end).toInt // BitDepth
                case 0xB5 => // SamplingFrequency: IEEE float, 4 or 8 B
                  tRate =
                    if (end - data == 4)
                      java.lang.Float.intBitsToFloat(be32(payload, data)).toInt
                    else if (end - data == 8)
                      java.lang.Double.longBitsToDouble(be64(payload, data)).toInt
                    else 0
                case 0xA3 | 0xA1 => readBlock(data, end) // SimpleBlock|Block
                case _ => () // EBML header, Info, and leaves we don't read
              }
              off = end
            }
          }
        }
      }
      walk(0, payload.length)
      Some((tracks.result(), blocks.result()))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** MJPEG-class Matroska track: the native "V_MJPEG" id, or the VfW
    * compatibility mux whose CodecPrivate BITMAPINFOHEADER carries
    * biCompression 'MJPG' at offset 16 (little-endian, the AVI strf
    * layout verbatim — that is what VfW passthrough means). */
  private def mkvMjpeg(t: MkvTrack): Boolean =
    t.codec == "V_MJPEG" ||
      (t.codec == "V_MS/VFW/FOURCC" && t.codecPrivate.length >= 20 &&
        le32(t.codecPrivate, 16) == 0x47504A4D)

  /** Parse a Matroska payload into per-frame IMAGE payloads the
    * [[pHash64]] path reads directly: the first video track whose codec
    * is MJPEG-class yields its blocks verbatim (each a standalone
    * JPEG). Some(empty) for a Matroska file whose video codec we cannot
    * decode (VP8/VP9 WebM lands here); None for non-EBML payloads. */
  private[operators] def mkvFrames(payload: Array[Byte]): Option[Vector[Array[Byte]]] =
    mkvBlocks(payload).map { case (tracks, blocks) =>
      tracks.find(t => t.ttype == 1 && mkvMjpeg(t))
        .map(t => blocks.collect { case (n, from, end) if n == t.num =>
          java.util.Arrays.copyOfRange(payload, from, end) })
        .getOrElse(Vector.empty)
    }

  /** Extract the first PCM16 audio track ("A_PCM/INT/LIT") of a
    * Matroska payload as a standalone WAV — the Matroska leg of
    * [[videoAudioTracks]]. Block payloads are raw little-endian PCM16
    * in block order (chunking across clusters is an interleaving
    * artifact, exactly the AVI 'NNwb' contract). None when there is no
    * such track or no sample bytes survive the walk. */
  private[operators] def mkvAudioWav(payload: Array[Byte]): Option[Array[Byte]] =
    mkvBlocks(payload).flatMap { case (tracks, blocks) =>
      tracks.find(t => t.ttype == 2 && t.codec == "A_PCM/INT/LIT" &&
          t.bits == 16 && t.channels >= 1 && t.rate > 0)
        .flatMap { t =>
          val parts = blocks.collect { case (n, from, end) if n == t.num =>
            (from, end) }
          val total = parts.iterator.map(p => p._2 - p._1).sum
          if (total == 0) None
          else {
            val data = new Array[Byte](total)
            var o = 0
            parts.foreach { case (from, end) =>
              System.arraycopy(payload, from, data, o, end - from)
              o += end - from }
            Some(pcmToWav(data, t.channels, t.rate))
          }
        }
    }

  /** Strip ASS/SSA inline styling from a dialogue TEXT field:
    * `{...}` override blocks drop (an unclosed block runs to the end,
    * as renderers treat it), `\N`/`\n` line breaks become real
    * newlines, `\h` hard spaces become plain spaces. Everything else
    * passes through — the styled caption's words reach the text tier
    * intact, which is what makes a styled-caption contamination leak
    * visible to the m97 exact replay (the m108 gate). */
  private[operators] def assStrip(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '{') {
        val e = text.indexOf('}', i)
        i = if (e < 0) text.length else e + 1
      } else if (c == '\\' && i + 1 < text.length &&
          (text.charAt(i + 1) == 'N' || text.charAt(i + 1) == 'n')) {
        sb.append('\n'); i += 2
      } else if (c == '\\' && i + 1 < text.length &&
          text.charAt(i + 1) == 'h') {
        sb.append(' '); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The TEXT field of a Matroska ASS/SSA dialogue payload
    * ("ReadOrder,Layer,Style,Name,MarginL,MarginR,MarginV,Effect,Text"
    * — 8 metadata commas, then the text, which may itself contain
    * commas), styling stripped. A malformed payload with fewer fields
    * strips as-is rather than dropping — lenient beats losing a
    * contamination signal to a mux quirk. */
  private def assDialogueText(payload: String): String = {
    var commas = 0
    var i = 0
    while (i < payload.length && commas < 8) {
      if (payload.charAt(i) == ',') commas += 1
      i += 1
    }
    assStrip(if (commas == 8) payload.substring(i) else payload)
  }

  /** Extract the first text-subtitle track of a Matroska payload as
    * one newline-joined string (cue blocks in file order) — the bridge
    * from the video tier into the TEXT pipeline: extracted subtitle
    * text feeds exact/minhash dedup, decontamination and the quality
    * gates exactly like a `documents` row. "S_TEXT/UTF8" cues pass
    * verbatim; "S_TEXT/ASS" / "S_TEXT/SSA" dialogue lines shed their
    * 8 metadata fields and inline styling ([[assStrip]]) first, so a
    * styled-caption leak is just as visible as a plain one. None when
    * there is no such track or no cue survives the walk. */
  private[operators] def mkvSubtitleText(payload: Array[Byte]): Option[String] =
    mkvBlocks(payload).flatMap { case (tracks, blocks) =>
      tracks.find(t => t.ttype == 0x11 && (t.codec == "S_TEXT/UTF8" ||
          t.codec == "S_TEXT/ASS" || t.codec == "S_TEXT/SSA"))
        .flatMap { t =>
          val styled = t.codec != "S_TEXT/UTF8"
          val cues = blocks.collect { case (n, from, end) if n == t.num =>
            val raw = new String(payload, from, end - from, "UTF-8")
            if (styled) assDialogueText(raw) else raw
          }
          if (cues.isEmpty) None else Some(cues.mkString("\n"))
        }
    }

  /** One (doc_id, text) row per video payload with an extractable
    * subtitle track ([[mkvSubtitleText]]; Matroska carries them — AVI
    * and plain MP4 have no standard text track, so those emit no row).
    * The [[videoAudioTracks]] twin for TEXT: subtitle text enters the
    * text-dedup/decontamination tier as if it were a document, which
    * is how a re-subtitled or re-captioned upload surfaces against a
    * text corpus. One mapPartitions pass, no shuffle. */
  def videoSubtitleTexts(media: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap(r =>
        mkvSubtitleText(r.payload).map(t => (r.doc_id, t))))
      .toDF("doc_id", "text")
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

  case class VideoFrameHash(doc_id: Long, frame_idx: Int, ph: Long)

  /** Frame-sampled pHash over video containers — the container tier of
    * the multimodal ladder (m73's byte-stub frame sampling made real):
    * every `every`-th frame of each AVI or MP4 payload decodes and
    * pHashes via the m78 image path ([[containerFrames]] dispatches by
    * magic), yielding the (doc_id, frame_idx, ph) table video dedup /
    * retrieval builds on. Payloads that are neither container — or
    * whose video codec is outside the MJPEG/DIB decode legs — emit no
    * rows.
    *
    * Scale shape: one mapPartitions pass, no shuffle; per-doc cost is
    * proportional to SAMPLED frames only — unsampled chunks are walked
    * (cheap pointer arithmetic over the chunk table) but never decoded,
    * which is what makes `every` the knob that holds decode cost flat
    * as frame rates grow. */
  def videoFramePHash(media: DataFrame, every: Int)(
      implicit s: SparkSession): Dataset[VideoFrameHash] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) => fs.iterator.zipWithIndex
            .filter(_._2 % every == 0)
            .flatMap { case (frame, idx) =>
              pHash64(frame).map(ph => VideoFrameHash(r.doc_id, idx, ph)) }
          case None => Iterator.empty
        }
      })
  }

  case class VideoFrameHash2(doc_id: Long, frame_idx: Int, ph: Long, phf: Long)

  /** [[videoFramePHash]] emitting BOTH orientations per sampled frame
    * (as-is + mirrored-grid hash, one decode via [[pHash64Both]]) —
    * the flip-tolerant video tier's probe table. */
  def videoFramePHashBoth(media: DataFrame, every: Int)(
      implicit s: SparkSession): Dataset[VideoFrameHash2] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) => fs.iterator.zipWithIndex
            .filter(_._2 % every == 0)
            .flatMap { case (frame, idx) =>
              pHash64Both(frame).map { case (ph, phf) =>
                VideoFrameHash2(r.doc_id, idx, ph, phf) } }
          case None => Iterator.empty
        }
      })
  }

  case class VideoFrameHashN(doc_id: Long, frame_idx: Int, hs: Seq[Long])

  /** [[videoFramePHash]] emitting all EIGHT dihedral orientation
    * hashes per sampled frame (one decode via [[pHash64Dihedral]]:
    * 0-3 quarter turns, 4-7 mirrored quarter turns) — the
    * orientation-complete video tier's probe table. */
  def videoFramePHashDihedral(media: DataFrame, every: Int)(
      implicit s: SparkSession): Dataset[VideoFrameHashN] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) => fs.iterator.zipWithIndex
            .filter(_._2 % every == 0)
            .flatMap { case (frame, idx) =>
              pHash64Dihedral(frame).map(hs =>
                VideoFrameHashN(r.doc_id, idx, hs)) }
          case None => Iterator.empty
        }
      })
  }

  /** Shared aligned-frame scorer of the video pHash tiers over
    * (doc_id, frame_idx, h) rows: (frame_idx, 16-bit chunk) posting
    * lists ([[Postings.chunks16]], pigeonhole-complete for <= 3 bits
    * per frame) with the `maxDf` cap BEFORE the aggregation (the hot
    * black/intro-frame bucket never materializes inside one
    * collect_list task; `distinctDocs` counts docs rather than rows),
    * one exact `bit_count` verify per candidate, frames counted once
    * per pair, and matching frames over the smaller sampled-frame
    * count of `hashed` (one row per sampled frame) >= `minMatch`.
    * `multi` (several rows per doc and frame: orientations) drops
    * same-doc pairs. */
  private def videoChunkPairScores(rows: DataFrame, hashed: DataFrame,
      maxDist: Int, minMatch: Double, maxDf: Int, multi: Boolean,
      distinctDocs: Boolean): DataFrame = {
    val h = rows.columns.last
    val keys = Seq("frame_idx", "chunk", "ckey")
    val pairs = Postings.capDf(Postings.chunks16(rows, h), keys, maxDf,
        distinctDocs)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("doc_id"), col(h))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("frame_idx"), explode(Postings.pairs(col("ds"))).as("p"))
    val counts = (if (multi) pairs.filter(col("p.a.doc_id") =!= col("p.b.doc_id"))
        else pairs)
      .filter(bit_count(col(s"p.a.$h").bitwiseXOR(col(s"p.b.$h"))) <= maxDist)
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("frame_idx"))
      .distinct() // several chunks/orientations can match one frame
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("c"))
    Postings.overSmaller(counts,
      hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("nf")), minMatch)
  }

  case class VideoLandmark(doc_id: Long, lm_a: Long, lm_b: Long)

  /** Per-video DISTINCT landmark set over the SAMPLED frame sequence:
    * a landmark is the pair of consecutive sampled-frame pHashes with
    * NO frame index, computed in the decode pass (the sampled hashes
    * are a local array — no shuffle, the [[audioLandmarks]] shape).
    * A leading trim of a multiple of `every` frames shifts every
    * sample position but leaves interior landmarks identical. */
  def videoLandmarks(media: DataFrame, every: Int)(
      implicit s: SparkSession): Dataset[VideoLandmark] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val hs = fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .flatMap(f => pHash64(f._1)).toArray
            val lms = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
            var i = 0
            while (i + 1 < hs.length) { lms += ((hs(i), hs(i + 1))); i += 1 }
            lms.iterator.map { case (a, b) => VideoLandmark(r.doc_id, a, b) }
          case None => Iterator.empty
        }
      })
  }

  case class VideoLandmarkO(doc_id: Long, orient: Int, lm_a: Long, lm_b: Long)

  /** [[videoLandmarks]] in BOTH orientations from one decode: orient 0
    * = as-is landmark pairs, orient 1 = the same consecutive pairs
    * over the mirrored-grid hashes — a mirrored (and possibly trimmed)
    * re-upload's orient-1 landmarks equal its source's orient-0 set
    * exactly when the mirror is lossless. Feeds the streaming
    * flip-tolerant video tier. */
  def videoLandmarksOriented(media: DataFrame, every: Int = 2)(
      implicit s: SparkSession): Dataset[VideoLandmarkO] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val hs = fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .flatMap(f => pHash64Both(f._1)).toArray
            val lms = scala.collection.mutable.LinkedHashSet.empty[(Int, Long, Long)]
            var i = 0
            while (i + 1 < hs.length) {
              lms += ((0, hs(i)._1, hs(i + 1)._1))
              lms += ((1, hs(i)._2, hs(i + 1)._2))
              i += 1
            }
            lms.iterator.map { case (o, a, b) =>
              VideoLandmarkO(r.doc_id, o, a, b) }
          case None => Iterator.empty
        }
      })
  }

  /** [[videoLandmarksOriented]] extended to the FULL dihedral-8 set:
    * one decode, eight orientation landmark sequences per video
    * (orient 0-3 = quarter turns, 4-7 = mirrored quarter turns) — the
    * probe table for the re-upload that was TRIMMED and ROTATED (or
    * rotate+mirrored) at once: its orientation-o landmark sequence
    * for the inverting o equals its source's as-is sequence, interior
    * landmarks surviving the trim exactly as in the flip tier. */
  def videoLandmarksDihedral(media: DataFrame, every: Int = 2)(
      implicit s: SparkSession): Dataset[VideoLandmarkO] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val hs = fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .flatMap(f => pHash64Dihedral(f._1)).toArray
            val lms = scala.collection.mutable.LinkedHashSet
              .empty[(Int, Long, Long)]
            var i = 0
            while (i + 1 < hs.length) {
              var o = 0
              while (o < 8) {
                lms += ((o, hs(i)(o), hs(i + 1)(o)))
                o += 1
              }
              i += 1
            }
            lms.iterator.map { case (o, a, b) =>
              VideoLandmarkO(r.doc_id, o, a, b) }
          case None => Iterator.empty
        }
      })
  }

  /** Video near-dup pairs under TIME SHIFT **and** RE-ENCODE — the
    * combined edit neither sibling catches alone (the most common real
    * pirate copy: trim the intro AND transcode): [[VideoFrames]]
    * is hamming-tolerant but frame-ALIGNED, so the trim blinds it;
    * [[VideoShift]] is shift-tolerant but compares landmarks
    * EXACTLY, so the transcode's pHash drift blinds it. Here the
    * 128-bit landmark (lm_a, lm_b) is cut into 8 chunks of 16 bits —
    * the m78 pigeonhole applied to the PAIR: any two landmarks within
    * total hamming `maxDist` <= 7 share at least one intact chunk, so
    * (chunk, value) posting lists find every such pair, and
    * `bit_count` on both halves verifies exactly.
    *
    * Score: matched DISTINCT landmarks per side over that side's
    * landmark count, taking the larger fraction — for a trimmed copy
    * the copy's side approaches 1 while the original's is diluted by
    * the trimmed-away landmarks, and `greatest` keeps the metric
    * symmetric. A landmark may match several near versions of itself
    * across the other doc; counting each side's own landmarks once
    * keeps the numerator <= the denominator by construction.
    *
    * Scale shape: same as the siblings — landmarks once out of the
    * decode pass, posting-list buckets, and `maxDf` dropping
    * (chunk, value) keys shared by more than that many LANDMARK ROWS
    * before aggregation (black/title sequences put the same chunk
    * value in thousands of docs AND many landmarks per doc, so the cap
    * counts rows, not docs). */
  def videoLandmarkPairsTolerant(media: DataFrame, maxDist: Int = 6,
      minMatch: Double = 0.6, maxDf: Int = 0,
      f: VideoShift = VideoShift()): DataFrame = {
    require(maxDist < 8, "8 x 16-bit chunks guarantee recall only for maxDist <= 7")
    val lms = Materialize.eager(f.landmarks(media))
    val sizes = lms.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
    val chunked = Postings.chunks16(
      lms.select(col("doc_id"), col("lm_a"), col("lm_b")), "lm_a", "lm_b")
    val buckets = Postings.capDf(chunked, Seq("chunk", "ckey"), maxDf)
      .groupBy(col("chunk"), col("ckey"))
      .agg(collect_list(struct(col("doc_id"), col("lm_a"), col("lm_b"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    // a doc can hold several landmarks in one bucket (unlike the
    // one-entry-per-doc siblings), so expansion filters same-doc pairs;
    // sorting by (doc_id, ...) still guarantees doc_a < doc_b
    val pairs = buckets.select(explode(Postings.pairs(col("ds"))).as("p"))
      .filter(col("p.a.doc_id") =!= col("p.b.doc_id"))
      .filter(bit_count(col("p.a.lm_a").bitwiseXOR(col("p.b.lm_a"))) +
        bit_count(col("p.a.lm_b").bitwiseXOR(col("p.b.lm_b"))) <= maxDist)
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.lm_a").as("la_a"), col("p.a.lm_b").as("la_b"),
        col("p.b.lm_a").as("lb_a"), col("p.b.lm_b").as("lb_b"))
      .distinct() // several intact chunks can surface one landmark pair
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("la_a"), col("la_b")).as("ma"),
        countDistinct(col("lb_a"), col("lb_b")).as("mb"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nl").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nl").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(greatest(col("ma").cast("double") / col("na"),
          col("mb").cast("double") / col("nb")), 6).as("match_frac"))
      .filter(col("match_frac") >= minMatch)
  }

  /** SKIP-TOLERANT video landmarks — the FRAME-RATE-CONVERSION tier's
    * kernel: a naive fps converter remaps base frame indexes as
    * floor(f * num/den), DROPPING frames on a down-conversion and
    * DUPLICATING them on an up-conversion. Consecutive-pair landmarks
    * ([[videoLandmarks]]) break structurally: at the default
    * `every = 2` a single drop flips the sampling PARITY of every
    * later frame, so the hash sequence itself changes wholesale. Here
    * (a) adjacent IDENTICAL hashes collapse first — a duplicated
    * frame is bit-exact, so up-conversion collapses back to the
    * master sequence (re-encode noise lands in the hamming-tolerant
    * sibling's domain, [[videoLandmarkPairsTolerant]]); (b) every
    * pair (h_i, h_j) with j - i <= `gap` is a landmark, so a dropped
    * frame's bridging pair still exists in the master's gap-2 set.
    * Default `every = 1`: rate tolerance and sampling stride compose
    * badly (the parity flip above), so the rate tier hashes every
    * frame and bounds cost by `gap` instead. Distinct per doc, one
    * mapPartitions pass, no shuffle. */
  def videoLandmarksSkip(media: DataFrame, gap: Int, every: Int)(
      implicit s: SparkSession): Dataset[VideoLandmark] = {
    import s.implicits._
    require(gap >= 1, "gap must be >= 1")
    require(every >= 1, "every must be >= 1")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val raw = fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .flatMap(f => pHash64(f._1)).toArray
            val hs = scala.collection.mutable.ArrayBuffer.empty[Long]
            raw.foreach(h => if (hs.isEmpty || hs.last != h) hs += h)
            val lms = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
            var i = 0
            while (i < hs.length) {
              var j = i + 1
              while (j <= i + gap && j < hs.length) {
                lms += ((hs(i), hs(j)))
                j += 1
              }
              i += 1
            }
            lms.iterator.map { case (a, b) => VideoLandmark(r.doc_id, a, b) }
          case None => Iterator.empty
        }
      })
  }

  case class VideoLandmarkW(doc_id: Long, win: Int, lm_a: Long, lm_b: Long)

  /** CROP-WINDOW video landmarks — the m130 tier's kernel: every
    * sampled frame decodes ONCE into its seven [[CropWindows]] hashes
    * ([[pHash64CropWindows]] — window gridding shares the full grid's
    * arithmetic, so a center/quadrant-cropped rendition's full-frame
    * hash equals the master's window hash bit-exactly), and each
    * window CHANNEL forms its own consecutive-pair landmark sequence.
    * A video cropped to window k of a master (even leading-trimmed)
    * emits a window-0 channel that is a subsequence of the master's
    * window-k channel — while every whole-frame tier (aligned,
    * landmark, tolerant, dihedral, skip) misses wholesale: a crop
    * changes every frame hash. Distinct per (doc, window), one
    * mapPartitions pass, no shuffle. `extended = true` adds the
    * [[CropWindowsThirds]] channels (windows 7-15) per frame — the
    * rule-of-thirds recomposition class, the same opt-in trade as
    * the image tier (m132/m133): 16 channels per decode instead of
    * 7. Like `every`, a build parameter under [[VideoCropFpVersion]]
    * — screen/score with what you built with. */
  def videoLandmarksCrop(media: DataFrame, every: Int,
      extended: Boolean)(
      implicit s: SparkSession): Dataset[VideoLandmarkW] = {
    import s.implicits._
    require(every >= 1, "every must be >= 1")
    val nWin = if (extended) 16 else 7
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap { r =>
        containerFrames(r.payload) match {
          case Some(fs) =>
            val whs = fs.iterator.zipWithIndex.filter(_._2 % every == 0)
              .flatMap(f => pHash64CropWindows(f._1, extended)).toArray
            val lms = scala.collection.mutable.LinkedHashSet
              .empty[(Int, Long, Long)]
            var win = 0
            while (win < nWin) {
              val hs = whs.flatMap(_.collectFirst {
                case (w, h) if w == win => h
              })
              var i = 0
              while (i + 1 < hs.length) {
                lms += ((win, hs(i), hs(i + 1)))
                i += 1
              }
              win += 1
            }
            lms.iterator.map { case (w, a, b) =>
              VideoLandmarkW(r.doc_id, w, a, b) }
          case None => Iterator.empty
        }
      })
  }

  /** Video near-dup pairs tolerant of STRUCTURED CROPS — the m130
    * tier: a re-upload cropped to a canonical window of its master
    * (thumbnail center crop, letterbox removal, crop-to-subject) and
    * possibly leading-trimmed scores against it on matching window
    * CHANNELS: candidates bucket by the landmark pair, require the
    * full-frame channel (win 0) on one side (window-vs-window pairs
    * carry no crop semantics), and score shared distinct landmarks
    * over the SMALLER of the two channels' landmark counts — channel
    * counts, not whole-doc counts, or the 7x window fan-out would
    * dilute every match below threshold. Distinct-doc `maxDf` before
    * expansion. Output (doc_a, doc_b, win_a, win_b, match_frac).
    * `extended = true` scores the thirds channels too (the m134 leg).
    * Arbitrary-offset crops out of scope (see [[CropWindows]]). */
  def videoLandmarkPairsCrop(media: DataFrame, minMatch: Double = 0.6,
      maxDf: Int = 0, f: VideoCrop = VideoCrop()): DataFrame = {
    val lms = Materialize.eager(f.landmarks(media))
    val sizes = lms.groupBy(col("doc_id"), col("win"))
      .agg(count(lit(1)).as("nl"))
    val pairs = Postings.capDf(lms, Seq("lm_a", "lm_b"), maxDf,
        distinctDocs = true)
      .groupBy(col("lm_a"), col("lm_b"))
      .agg(collect_list(struct(col("doc_id"), col("win"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(Postings.pairs(col("ds"))).as("p"))
      .filter(col("p.a.doc_id") =!= col("p.b.doc_id"))
      .filter(col("p.a.win") === 0 || col("p.b.win") === 0)
    pairs.groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.win").as("win_a"), col("p.b.win").as("win_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("win").as("win_a"),
        col("nl").as("na")), Seq("doc_a", "win_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("win").as("win_b"),
        col("nl").as("nb")), Seq("doc_b", "win_b"))
      .select(col("doc_a"), col("doc_b"), col("win_a"), col("win_b"),
        round(col("c").cast("double") / least(col("na"), col("nb")), 6)
          .as("match_frac"))
      .filter(col("match_frac") >= minMatch)
  }

  /** Version stamp for the CROP-WINDOW video landmark family
    * ([[videoLandmarksCrop]] — window set, per-frame hashing, channel
    * pairing): namespaced (video-crop = 8000 + v; the family
    * convention) so cross-family screens fail fast at every version
    * pair; 8001 = v1. Parameter choices (every) are NOT covered —
    * screen with the parameters the index was built with. */
  val VideoCropFpVersion: Int = 8001

  /** Persisted CROP-WINDOW video landmark index — the incremental
    * member of the m130 tier: the corpus decodes ONCE into all seven
    * per-frame window channels, one row per distinct
    * ((win, lm_a, lm_b), doc) with that CHANNEL's landmark count
    * riding along (per-channel counts, the m130 scoring), and
    * [[VideoCrop]] screen screens every ingest batch using
    * its full-frame channel only — a center/quadrant-cropped (and
    * trimmed) re-upload of a corpus master is caught with no corpus
    * re-decode, where every whole-frame video index misses.
    * [[IncrementalIndex.append]]-compatible; stamped with
    * [[VideoCropFpVersion]]. `extended = true` registers the thirds
    * channels (windows 7-15) too; the SCREEN side needs no knob — a
    * probe uses only its full-frame channel either way. */
  def videoCropLandmarkIndex(media: DataFrame,
      f: VideoCrop = VideoCrop()): DataFrame = {
    val lms = Materialize.eager(f.landmarks(media))
    lms.join(lms.groupBy(col("doc_id"), col("win"))
        .agg(count(lit(1)).as("nl")),
        Seq("doc_id", "win"))
      .select(col("win"), col("lm_a"), col("lm_b"), col("doc_id"),
        col("nl"), lit(VideoCropFpVersion).as("fp_ver"))
  }

  /** Version stamp for the SKIP-LANDMARK video family
    * ([[videoLandmarksSkip]] — run collapse, gap-pair layout):
    * namespaced (video-skip = 6000 + v; the family convention) so
    * cross-family screens fail fast at every version pair; 6001 = v1.
    * Parameter choices (gap, every) are NOT covered — screen with the
    * parameters the index was built with. */
  val VideoSkipFpVersion: Int = 6001

  /** Persisted video index for incremental dedup — the t69/s56/m85/m86
    * contract at the VIDEO tier, completing the incremental-index
    * family across all five modalities: sampled-frame pHashes chunk
    * into 4 x 16-bit buckets keyed (frame_idx, chunk, ckey) — the m82
    * aligned metric's posting-list key — with the full hash AND the
    * doc's sampled-frame count riding in-row, so screening an ingest
    * batch needs no corpus pass at all. Build once over the corpus;
    * in production bucket by (chunk, ckey) so probe joins are
    * shuffle-free bucket lookups. */
  def videoChunkIndex(media: DataFrame,
      f: VideoFrames = VideoFrames()): DataFrame = {
    val hashed = Materialize.eager(f.landmarks(media))
    val nf = hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    Postings.chunks16(hashed.join(nf, Seq("doc_id"))
        .select(col("doc_id"), col("frame_idx"), col("ph"), col("nf")), "ph")
      .select(col("frame_idx"), col("chunk"), col("ckey"), col("doc_id"),
        col("ph"), col("nf"))
  }

  /** Screen an ingest batch of videos against a pre-built
    * [[videoChunkIndex]]: the batch decodes + hashes its sampled
    * frames once, equi-joins the index on (frame_idx, chunk, ckey) —
    * pigeonhole-complete per frame for hamming <= 3 — verifies each
    * (frame, candidate) with one `bit_count` against the hash carried
    * in the index row, and a probe is a duplicate of the lowest corpus
    * doc whose matching-frame fraction over the smaller sampled-frame
    * count reaches `minMatch` (the [[VideoFrames]] metric).
    * Returns one verdict row per batch video that produced frames;
    * payloads yielding none are absent, not judged kept (the container
    * contract); left-join from the raw batch ids for a row per input.
    *
    * `maxDf` drops index buckets held by more than that many corpus
    * frames BEFORE the probe join — the shared-intro guard
    * ([[VideoFrames]]): a title-card bucket otherwise multiplies
    * every probe frame by its membership. */
  def dedupAgainstVideoIndex(media: DataFrame, index: DataFrame,
      maxDist: Int = 3, minMatch: Double = 0.8, maxDf: Int = 0,
      f: VideoFrames = VideoFrames()): DataFrame = {
    requireChunkRecall(maxDist)
    val hashed = Materialize.eager(f.landmarks(media))
    val nf = hashed.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val keys = Seq("frame_idx", "chunk", "ckey")
    val dup = Postings.chunks16(
        hashed.select(col("doc_id"), col("frame_idx"), col("ph")), "ph").join(
        Postings.capDf(index, keys, maxDf).select(col("frame_idx"), col("chunk"), col("ckey"),
          col("doc_id").as("src"), col("ph").as("cph"),
          col("nf").as("nf_src")),
        keys)
      .dropDuplicates("doc_id", "frame_idx", "src")
      .filter(bit_count(col("ph").bitwiseXOR(col("cph"))) <= maxDist)
      .groupBy(col("doc_id"), col("src"), col("nf_src"))
      .agg(count(lit(1)).as("c"))
      .join(nf, Seq("doc_id"))
      .filter(col("c").cast("double") / least(col("nf"), col("nf_src"))
        >= minMatch)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(nf.select(col("doc_id")), dup)
  }

  /** JOINT audio+video near-dup verdict over a video corpus — the
    * fusion tier above the single-modality ladders: pair evidence from
    * the FRAME tier ([[VideoFrames]] — aligned pHash agreement)
    * and the AUDIO-TRACK tier ([[AudioLandmark]] over
    * [[videoAudioTracks]] — positionless landmark agreement on the
    * extracted PCM) full-outer-joins into one row per candidate pair:
    * (doc_a, doc_b, frame_frac, audio_frac, verdict) with verdict
    *  - "reupload"   — both tiers agree: the true re-upload
    *  - "same_video" — frames match, audio does not (re-dub / music
    *                   swap / silenced copy)
    *  - "same_audio" — audio matches, frames do not (reaction video /
    *                   reposted clip / slideshow over the same track).
    * A pair neither tier surfaces never materializes — the fusion is
    * a join of two already-capped candidate sets, not a cross product.
    *
    * Scale shape: each tier keeps its own skew caps and decode-once
    * materialization; payloads are walked twice (frame slice + audio
    * slice) but the expensive JPEG decode happens only in the frame
    * tier and only for sampled frames — the audio walk is pointer
    * arithmetic plus PCM copy. The final join is pair-keyed (both
    * sides already aggregated to pairs), broadcast-sized in practice
    * since both tiers emit above-threshold candidates only. */
  def videoJointNearDup(media: DataFrame, every: Int = 2,
      minFrame: Double = 0.8, minAudio: Double = 0.6,
      maxDf: Int = 0)(implicit s: SparkSession): DataFrame = {
    val frames = pairs(VideoFrames(every))(media, minMatch = minFrame,
        maxDf = maxDf)
      .withColumnRenamed("match_frac", "frame_frac")
    val audio = pairs(AudioLandmark())(videoAudioTracks(media),
        minMatch = minAudio, maxDf = maxDf)
      .withColumnRenamed("match_frac", "audio_frac")
    frames.join(audio, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("frame_frac"), lit(0.0)).as("frame_frac"),
        coalesce(col("audio_frac"), lit(0.0)).as("audio_frac"),
        when(col("frame_frac").isNotNull && col("audio_frac").isNotNull,
            lit("reupload"))
          .when(col("frame_frac").isNotNull, lit("same_video"))
          .otherwise(lit("same_audio")).as("verdict"))
  }

  /** JOINT incremental screen at the rot seam — the m162 verdict with
    * NO corpus re-decode: an ingest batch of videos classifies
    * against two PERSISTED indexes (the m155 rot-constellation frame
    * index and the m85-layout audio code index over the corpus's
    * extracted tracks). Each leg is its family's screen
    * ([[VideoRotScale]] screen /
    * [[AudioCode]] screen — both fail fast on stamps), and the
    * verdicts fuse per probe:
    *  - "reupload"   — rotated/rescaled frames AND the track both
    *                   match a corpus master
    *  - "same_video" — frames match, track replaced
    *  - "same_audio" — track matches under fresh frames
    *  - "kept"       — neither leg fires (including undecodable
    *                   payloads and videos with no audio track — a
    *                   leg with nothing to say never blocks ingest).
    * Two index equi-joins, no pair expansion, batch-sized output. */
  def videoJointRotIndexScreen(media: DataFrame, videoIndex: DataFrame,
      audioIndex: DataFrame, minFrame: Double = 0.2,
      minAudio: Double = 0.8, every: Int = 2, minShared: Int = 0)(
      implicit s: SparkSession): DataFrame = {
    val v = screen(VideoRotScale(every))(media, videoIndex,
        minMatch = minFrame, minShared = minShared)
      .select(col("doc_id"), col("dup_src").as("video_src"))
    val a = screen(AudioCode)(videoAudioTracks(media), audioIndex,
        minMatch = minAudio)
      .select(col("doc_id"), col("dup_src").as("audio_src"))
    media.select(col("doc_id"))
      .join(v, Seq("doc_id"), "left").join(a, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("video_src").isNotNull && col("audio_src").isNotNull,
            lit("reupload"))
          .when(col("audio_src").isNotNull, lit("same_audio"))
          .when(col("video_src").isNotNull, lit("same_video"))
          .otherwise(lit("kept")).as("verdict"),
        col("video_src"), col("audio_src"))
  }

  /** JOINT audio+video verdict at the ROTATION-invariant constellation
    * seam — [[videoJointNearDup]]'s fusion shape re-pointed at the
    * m154 frame tier (the PLANS round-12 candidate): classifies
    * re-uploads whose FRAMES are rotated at ANY angle, rescaled,
    * and/or trimmed — where the aligned pHash frame tier of
    * [[videoJointNearDup]] provably misses every pair — with the audio
    * track kept or replaced. Frame evidence comes from
    * [[VideoRotScale]] (pooled rotation-invariant constellation
    * codes), audio evidence from [[AudioLandmark]] over
    * [[videoAudioTracks]]; the same full-outer fusion yields
    *  - "reupload"   — rotated/rescaled frames AND the same track
    *  - "same_video" — frames match, audio replaced (re-dub of a
    *                   tilted re-render)
    *  - "same_audio" — track matches under fresh frames (reaction
    *                   video / slideshow over the same music).
    *
    * Scale shape: both legs are the already-capped pair generators
    * (constellation posting buckets and landmark buckets, each with
    * maxDf skew caps BEFORE pair expansion); the fusion joins two
    * above-threshold candidate sets on the pair key — no cross
    * product, no new shuffle beyond the two ladders' own. */
  def videoJointRotNearDup(media: DataFrame, minFrame: Double = 0.2,
      minAudio: Double = 0.6, every: Int = 2, maxDf: Int = 0,
      minShared: Int = 0)(implicit s: SparkSession): DataFrame = {
    val frames = pairs(VideoRotScale(every))(media, minMatch = minFrame,
        maxDf = maxDf, minShared = minShared)
      .withColumnRenamed("match_frac", "frame_frac")
    val audio = pairs(AudioLandmark())(videoAudioTracks(media),
        minMatch = minAudio, maxDf = maxDf)
      .withColumnRenamed("match_frac", "audio_frac")
    frames.join(audio, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("frame_frac"), lit(0.0)).as("frame_frac"),
        coalesce(col("audio_frac"), lit(0.0)).as("audio_frac"),
        when(col("frame_frac").isNotNull && col("audio_frac").isNotNull,
            lit("reupload"))
          .when(col("frame_frac").isNotNull, lit("same_video"))
          .otherwise(lit("same_audio")).as("verdict"))
  }

  // ---- Landmark and hash families, and the three operations over them --

  /** "4 x 16-bit chunks" pigeonhole: the chunk posting lists of the
    * pHash-style tiers find every pair within hamming 3, no further. */
  private def requireChunkRecall(maxDist: Int): Unit =
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")

  /** A landmark or hash FAMILY: one extractor parameter set, as a value.
    * [[pairs]], [[index]] and [[screen]] run the family's extractor
    * ONCE ([[Materialize.eager]] — the decode is the dominant cost and
    * every consumer reads the materialized rows) and hand the rows to
    * the family's shared scorer, index layout or index screen. An index
    * and its screens take the same value, so "screen with the
    * parameters the index was built with" is one value passed twice
    * (the fingerprint stamps cover the extractor FUNCTION, never its
    * parameters); a new tier is a new case class. A family mixes in
    * what it supports: [[Paired]], [[Indexed]], [[Screened]]. */
  sealed trait Family extends Product with Serializable {
    /** The extractor: `media`'s (doc_id, payload) rows decoded into the
      * family's key rows (distinct per doc and key unless the family
      * says otherwise). */
    final def landmarks(media: DataFrame): DataFrame =
      extract(media)(media.sparkSession)
    protected def extract(media: DataFrame)(implicit s: SparkSession): DataFrame
    /** Default gates of [[pairs]] and [[screen]]: the shared-key
      * fraction over the smaller side, the absolute shared-key floor
      * (0 and 1 mean any) and the hamming bound of the hash tiers. */
    def minMatch: Double = 0.6
    def minShared: Int = 0
    def maxDist: Int = 3
    /** Posting key columns of the extractor's rows. */
    def keys: Seq[String] = Seq("lm")
  }

  /** A family with a pair scorer: [[pairs]]. */
  sealed trait Paired extends Family {
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame
  }

  /** A family whose persisted index rows carry a fingerprint stamp. */
  sealed trait Stamped extends Family {
    def stamp: Postings.Stamp
  }

  /** A family with a persisted index: [[index]] writes one row per
    * distinct (keys, doc) with the doc's row count `count` riding
    * along, stamped — the layout [[screenLandmarkIndex]] reads and
    * [[IncrementalIndex.append]] extends. */
  sealed trait Indexed extends Stamped {
    def count: String = "nl"
    private[operators] def indexRows(lms: DataFrame): DataFrame =
      landmarkIndex(lms, stamp.ver, keys, count)
  }

  /** A family that screens ingest batches against a persisted index:
    * [[screen]]. The probe extractor defaults to [[Family.landmarks]];
    * `per` lists index columns that split a corpus doc into separately
    * counted channels. */
  sealed trait Screened extends Stamped {
    def screenMinMatch: Double = minMatch
    def per: Seq[String] = Nil
    private[operators] def probes(media: DataFrame): DataFrame = landmarks(media)
    private[operators] def screenRows(rows: => DataFrame, index: DataFrame,
        minMatch: Double, minShared: Int, maxDist: Int, maxDf: Int): DataFrame =
      screenLandmarkIndex(rows, index, minMatch, minShared, stamp, keys, per)
  }

  /** Shared-key families scored by [[landmarkPairScores]]. */
  sealed abstract class Coded(override val minMatch: Double = 0.6)
      extends Paired {
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame =
      landmarkPairScores(lms, minMatch, maxDf, keys)
  }

  /** Distinct (doc_id, lm) families scored by [[peakLandmarkPairScores]]. */
  sealed abstract class Peaked(override val minMatch: Double,
      override val minShared: Int = 0) extends Paired {
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame =
      peakLandmarkPairScores(lms, minMatch, maxDf, minShared)
  }

  /** Readout-fan families — distinct (doc_id, orient, lm) rows, orient 0
    * the identity readout — scored by [[orientedLandmarkPairScores]];
    * output (doc_a, doc_b, orient, match_frac). */
  sealed abstract class Fanned(override val minMatch: Double,
      override val minShared: Int = 0) extends Paired {
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame =
      orientedLandmarkPairScores(lms, minMatch, maxDf, minShared)
  }

  /** pHash families scored by [[chunkPairScores]]: `hashes` shapes the
    * materialized extractor output into (doc_id[, win], h) rows;
    * output (doc_a, doc_b[, win_a, win_b], dist). Undecodable payloads
    * drop out (no hash). */
  sealed abstract class Hashed(oriented: Boolean = true) extends Paired {
    protected def hashes(hashed: DataFrame): DataFrame
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame = {
      requireChunkRecall(maxDist) // before the eager decode pass
      chunkPairScores(hashes(lms), maxDist, maxDf, oriented)
    }
  }

  /** Aligned audio frame codes — the m79 tier: two recordings match
    * when the shared (frame_idx, code) count over the smaller
    * fingerprint reaches `minMatch`; the (frame_idx, code) bucket IS
    * the inverted index (13-bit codes per frame position). `maxDf`
    * drops buckets shared by more than that many documents: on real
    * audio silent/constant frames share one code at the same index
    * across unrelated tracks (a bucket of m docs emits m(m-1)/2
    * pairs), and capped buckets lower `c` but never the `nf`
    * denominators, so the cap only removes pairs. Alignment is
    * positional: the re-encoded / re-leveled re-upload; time shifts
    * are [[AudioLandmark]]'s. The index (m86) rows carry the doc's
    * frame count `nf` and [[AudioFpVersion]]: a fingerprint-function
    * change can never silently split index and probes into disjoint
    * code spaces. Payloads with no frames (undecodable, or shorter
    * than one frame) are absent from a screen's output. */
  case object AudioCode extends Coded(0.8) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      audioFingerprint(m).toDF()
    override def keys = Seq("frame_idx", "code")
    override def count = "nf"
    def stamp = Postings.Stamp(AudioFpVersion, "audio", "audioCodeIndex")
  }

  /** Aligned SPECTRAL frame codes — the fractional-resample tier
    * (m106): a 44.1 kHz -> 8 kHz interpolated re-upload shares no
    * sample values with its master, so [[AudioCode]] sees nothing, but
    * its 64 ms spectral codes are identical (the analysis grid is
    * anchored in absolute time and frequency). Same aligned scoring,
    * cap and index layout as [[AudioCode]]; stamped
    * [[SpectralFpVersion]], so a 44.1 kHz re-upload of an 8 kHz corpus
    * master is caught against a standing index. */
  case object AudioSpectralCode extends Coded(0.8) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      audioSpectralCodes(m).toDF()
    override def keys = Seq("frame_idx", "code")
    override def count = "nf"
    def stamp = Postings.Stamp(SpectralFpVersion, "audio", "audioSpectralCodeIndex")
  }

  /** Positionless code-succession landmarks ([[audioLandmarks]]) — the
    * TIME-SHIFT tier (m80): a trimmed or padded re-upload shifts every
    * frame index, so aligned agreement sees nothing, but the sequence
    * of codes is intact. Match metric: shared DISTINCT landmarks over
    * the smaller landmark set. On real audio silence yields code 0 and
    * the (0,0) landmark is the universal hot key the `maxDf` cap
    * exists for. Landmarks drop position, so two docs sharing brief
    * textured motifs score on them; the gate (0.6) is lower than the
    * aligned 0.8 because boundary frames of a trimmed copy straddle
    * the cut and lose their landmarks. */
  case class AudioLandmark(gap: Int = 1) extends Coded {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      audioLandmarks(m, gap).toDF()
  }

  /** Spectral landmarks ([[audioSpectralLandmarks]]) — time-shift AND
    * rate-free: the tier for the trimmed fractionally-resampled
    * re-upload (m110), which evades both [[AudioLandmark]] (no common
    * samples) and [[AudioSpectralCode]] (shifted alignment). */
  case class AudioSpectralLandmark(gap: Int = 1, hopMs: Int = 64)
      extends Coded {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      audioSpectralLandmarks(m, gap, hopMs).toDF()
  }

  /** ONSET-ANCHORED spectral landmarks ([[spectralOnsetLandmarks]]) —
    * trim tolerance at ARBITRARY offsets plus rate freedom: the tier
    * for a 50 ms-trimmed (non-hop-multiple) fractionally-resampled
    * re-upload (m115), which every grid tier misses by construction;
    * `thresholdFrac` > 0 adds level tolerance (m117). Payloads with NO
    * landmarks — undecodable bytes, but equally onset-free audio — are
    * absent from a screen's output (the grid indexes cover onset-free
    * corpora). Index stamped [[OnsetFpVersion]]. */
  case class AudioOnset(codesPerOnset: Int = 2, threshold: Int = 1024,
      minSilenceMs: Int = 8, thresholdFrac: Double = 0.0)
      extends Coded with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      spectralOnsetLandmarks(m, codesPerOnset, threshold, minSilenceMs,
        thresholdFrac).toDF()
    def stamp = Postings.Stamp(OnsetFpVersion, "onset", "audioOnsetLandmarkIndex")
  }

  /** [[AudioOnset]] with the ROLLING-RMS onset detector
    * ([[spectralOnsetLandmarksRolling]]) — the m119 tier: a NOISY-FLOOR
    * corpus (continuous hum under the beat structure) has no
    * sub-threshold span, so the threshold detectors find zero onsets;
    * the rolling detector anchors at the bursts regardless. Landmark
    * VALUES are comparable across detectors (shared packing kernel),
    * but the detector changes the landmark SET, so its index carries
    * its own stamp ([[OnsetRollingFpVersion]]): a cross-detector screen
    * fails fast instead of matching nothing. */
  case class AudioOnsetRolling(codesPerOnset: Int = 2, ratio: Double = 3.0,
      rmsMs: Int = 24, minGapMs: Int = 48, minAbs: Int = 64)
      extends Coded with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      spectralOnsetLandmarksRolling(m, codesPerOnset, ratio, rmsMs,
        minGapMs, minAbs).toDF()
    def stamp = Postings.Stamp(OnsetRollingFpVersion, "onset", "audioOnsetLandmarkIndex")
  }

  /** ONSET-INTERVAL-RATIO landmarks ([[onsetIntervalLandmarks]]) — the
    * m120 tier: a re-upload SPED UP (or slowed down) by a uniform
    * factor shifts both the onset grid and every tone's pitch, so all
    * spectral tiers structurally miss it, while interval ratios ride
    * through speed, stretch, trim, mux rate and level together.
    * Index stamped [[IntervalFpVersion]]. */
  case class AudioInterval(nRatios: Int = 5, qStep: Double = 0.2,
      threshold: Int = 1024, minSilenceMs: Int = 8)
      extends Coded with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      onsetIntervalLandmarks(m, nRatios, qStep, threshold, minSilenceMs).toDF()
    def stamp = Postings.Stamp(IntervalFpVersion, "interval", "audioIntervalLandmarkIndex")
  }

  /** PITCH-CLASS landmarks ([[chromaOnsetLandmarks]]) — the m124 tier:
    * a metronomic corpus re-uploaded with an integer-semitone pitch
    * shift (or speed change), trimmed and re-muxed. The interval tier
    * is degenerate there (one shared landmark) and the fixed-Hz
    * spectral tiers break under the scaling; argmax-anchored
    * constant-Q orderings ride through. 13-bit codes are coarser keys
    * than the other indexes', so at corpus scale hot codes make wide
    * screen join buckets — keep a screen's `minMatch` at or below the
    * 0.727273 fixture floor. Index stamped [[ChromaFpVersion]]. */
  case class AudioChroma(cyc: Int = 12, threshold: Int = 1024,
      minSilenceMs: Int = 8, div: Int = 12, folds: Int = 1)
      extends Coded with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      chromaOnsetLandmarks(m, cyc, threshold, minSilenceMs, div, folds).toDF()
    def stamp = Postings.Stamp(ChromaFpVersion, "chroma", "audioChromaLandmarkIndex")
  }

  /** Image pHash hamming distance (m78): 4 chunk buckets of 16 bits
    * per hash, so any pair within hamming 3 shares an intact chunk and
    * `bit_count(a ^ b)` verifies exactly — no false positives. The not-
    * null filter goes AFTER the eager barrier: pushed before it,
    * Catalyst rewrites `ph IS NOT NULL` to a second UDF invocation and
    * every payload decodes twice. `maxDf` drops buckets shared by more
    * than that many images: one hot pHash (blank thumbnails, default
    * avatars — byte-distinct after re-encode, so exact dedup never
    * removes them) otherwise makes the candidate set quadratic; pairs
    * also sharing any rarer chunk still surface. The screen verifies
    * against the hash carried in the [[pHashChunkIndex]] row; payloads
    * with NO hash are absent from its output. */
  case object PHash extends Hashed(oriented = false) with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      m.select(col("doc_id"), pHashUdf(col("payload")).as("ph"))
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.filter(col("ph").isNotNull)
    def stamp = Postings.Stamp(PHashFpVersion, "pHash", "pHashChunkIndex")
    override private[operators] def screenRows(rows: => DataFrame,
        index: DataFrame, minMatch: Double, minShared: Int, maxDist: Int,
        maxDf: Int): DataFrame =
      screenPHashIndex(rows, index, maxDist, maxDf, stamp, dihedral = false,
        crop = false)
  }

  /** [[PHash]] tolerant to HORIZONTAL MIRRORING — the flipped repost:
    * every image contributes its as-is and mirrored-grid hashes (one
    * decode, [[pHash64Both]]); pairs verify per orientation combo and
    * keep the minimum distance, a strict superset of [[PHash]] at the
    * same threshold. The `maxDf` cap counts DISTINCT docs per bucket,
    * so a [[PHash]]-tuned value carries over despite the 2x rows. */
  case object PHashFlip extends Hashed {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      m.select(col("doc_id"), pHashBothUdf(col("payload")).as("hs"))
    protected def hashes(hashed: DataFrame): DataFrame = {
      val both = hashed.filter(col("hs").isNotNull)
        .select(col("doc_id"), col("hs._1").as("ph"), col("hs._2").as("phf"))
      both.select(col("doc_id"), col("ph").as("h"))
        .unionByName(both.select(col("doc_id"), col("phf").as("h")))
    }
  }

  /** [[PHashFlip]]'s ROTATION sibling — the phone-orientation repost:
    * four quarter-turn orientation rows per image from one decode
    * ([[pHash64Rots]]), distinct-doc `maxDf` cap. */
  case object PHashRot extends Hashed {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      m.select(col("doc_id"), pHashRotsUdf(col("payload")).as("hs"))
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.filter(col("hs").isNotNull)
        .select(col("doc_id"), explode(col("hs")).as("h"))
  }

  /** The full DIHEDRAL-8 pass — every flip x rotation compound in one
    * operator (a rot90+mirror repost needed the right composition of
    * the two single-trick tiers): all eight orientation hashes from one
    * decode ([[pHash64Dihedral]]). Its screen probes with all eight
    * orientations against an AS-IS [[pHashChunkIndex]]: 8x probe-side
    * rows, the index untouched — orientation tolerance composes with
    * the persisted index without reindexing. */
  case object PHashDihedral extends Hashed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      m.select(col("doc_id"), pHashDihedralUdf(col("payload")).as("hs"))
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.filter(col("hs").isNotNull)
        .select(col("doc_id"), explode(col("hs")).as("h"))
    def stamp = Postings.Stamp(PHashFpVersion, "pHash", "pHashChunkIndex")
    override private[operators] def probes(m: DataFrame): DataFrame =
      m.select(col("doc_id"), pHashDihedralUdf(col("payload")).as("ph"))
    override private[operators] def screenRows(rows: => DataFrame,
        index: DataFrame, minMatch: Double, minShared: Int, maxDist: Int,
        maxDf: Int): DataFrame =
      screenPHashIndex(rows, index, maxDist, maxDf, stamp, dihedral = true,
        crop = false)
  }

  /** STRUCTURED CROPS (m128): a re-upload cropped to one of the
    * [[CropWindows]] hashes, as a whole image, exactly to its master's
    * window hash, which [[PHash]] misses wholesale. Pairs need window
    * 0 (the full image) on one side — window-vs-window pairs carry no
    * crop semantics; output (doc_a, doc_b, win_a, win_b, dist).
    * `extended` adds the 3x3 thirds ladder ([[CropWindowsThirds]]).
    * The screen probes with the FULL hash only (a crop arrives as a
    * whole image) against [[pHashCropWindowIndex]], where the corpus
    * holds every window; its `maxDf` counts DISTINCT corpus docs.
    * Arbitrary-offset crops are out of scope (the peak tiers). */
  case class PHashCrop(extended: Boolean = false) extends Hashed
      with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      m.select(col("doc_id"), (if (extended) pHashCropWindowsExtUdf
        else pHashCropWindowsUdf)(col("payload")).as("hs"))
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.filter(col("hs").isNotNull)
        .select(col("doc_id"), explode(col("hs")).as("wh"))
        .select(col("doc_id"), col("wh._1").as("win"), col("wh._2").as("h"))
    def stamp = Postings.Stamp(PHashFpVersion, "pHash", "pHashCropWindowIndex")
    override private[operators] def probes(m: DataFrame): DataFrame =
      m.select(col("doc_id"), pHashUdf(col("payload")).as("ph"))
    override private[operators] def screenRows(rows: => DataFrame,
        index: DataFrame, minMatch: Double, minShared: Int, maxDist: Int,
        maxDf: Int): DataFrame =
      screenPHashIndex(rows, index, maxDist, maxDf, stamp, dihedral = false,
        crop = true)
  }

  /** Peak-patch landmarks ([[imagePeakLandmarks]]) — ARBITRARY-OFFSET
    * crops (m136), the scope edge every canonical-window gate pins as a
    * non-match: a crop keeps a subset of its master's peaks bit-
    * exactly, so crop-vs-master sits near 1.0 while unrelated images
    * share nothing. Out: LOSSY re-encodes (JPEG quantization perturbs
    * patch bytes — [[PeakLossy]] and the pHash tiers) and crops so
    * tight no interior peak survives. Index stamped [[PeakFpVersion]]. */
  case class ImagePeak(radius: Int = 2, patch: Int = 4, k: Int = 0)
      extends Peaked(0.6) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imagePeakLandmarks(m, radius, patch, k)
    def stamp = Postings.Stamp(PeakFpVersion, "peak", "imagePeakIndex")
  }

  /** [[ImagePeak]] over sampled video frames, pooled per doc (m138).
    * SAME [[PeakFpVersion]] as the image index — the hashes come from
    * one shared kernel, so values are comparable across media kinds. */
  case class VideoPeak(every: Int = 2, radius: Int = 2, patch: Int = 4,
      k: Int = 0) extends Peaked(0.6) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoPeakLandmarks(m, every, radius, patch, k)
    def stamp = Postings.Stamp(PeakFpVersion, "peak", "videoPeakIndex")
  }

  /** [[ImagePeak]] for the ROTATED/MIRRORED + arbitrary-crop compound
    * (m140): the lower doc's orient-0 hashes against any of the higher
    * doc's 8 readouts ([[imagePeakLandmarksOriented]]); a repost
    * cropped at ANY offset AND rotated/mirrored lands at the
    * orientation undoing the transform. */
  case class ImagePeakDihedral(radius: Int = 2, patch: Int = 4)
      extends Fanned(0.6) {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imagePeakLandmarksOriented(m, radius, patch)
  }

  /** Gray-mean peak descriptors ([[peakBlockDescriptors]]) — LOSSY
    * (JPEG re-encoded) arbitrary-offset crops, the class [[ImagePeak]]
    * declares out: peaks anchor as before (positions hold under
    * quantization at quality >= ~0.9), descriptors match within hamming
    * `maxDist` via the 4x16-bit chunk pigeonhole, and a pair scores
    * DISTINCT matched peaks over the smaller side's peak count. Pick
    * `maxDist` by corpus self-similarity: 1 suffices for quality >=
    * ~0.92 (the m141 gate; the synthetic family's near-aliased patches
    * collide at 2-3), 2-3 buys margin at lower qualities on genuinely
    * independent content. Qualities low enough to move the fine peaks
    * (~< 0.85) are [[ImageScale]]'s at minMatch 0.2 (m163). Indexed by
    * [[imagePeakLossyIndex]], screened by
    * [[dedupAgainstImagePeakLossyIndex]]. */
  case class PeakLossy(radius: Int = 2, patchDesc: Int = 8) extends Paired {
    override def minMatch: Double = 0.5
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame = {
      val (r, p) = (radius, patchDesc)
      val u = udf((b: Array[Byte]) => peakBlockDescriptors(b, r, p))
      m.select(col("doc_id"), u(col("payload")).as("ds"))
    }
    /** (doc_id, pk, d) rows of the materialized extractor output. */
    private[operators] def descriptors(lms: DataFrame): DataFrame =
      lms.filter(col("ds").isNotNull)
        .select(col("doc_id"), explode(col("ds")).as("pd"))
        .select(col("doc_id"), col("pd._1").as("pk"), col("pd._2").as("d"))
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame = {
      requireChunkRecall(maxDist) // before the eager decode pass
      descriptorChunkPairScores(descriptors(lms), minMatch, maxDist, maxDf)
    }
  }

  /** Similarity-invariant peak CONSTELLATIONS ([[imageScaleLandmarks]])
    * — the crop+RESIZE compound (m143, the most common image re-upload
    * shape), which every earlier image tier misses structurally: the
    * window hashes assume anchor-aligned rects, the peak-patch tier
    * hashes raw pixel bytes that interpolation rewrites, and the
    * descriptor tier quantizes at FIXED pixel scale. Direction angles
    * and log distance ratios of coarse-peak triples ride through
    * translation AND uniform scale. Index (m144) stamped
    * [[ScaleFpVersion]]. */
  case class ImageScale(kTop: Int = 16, nNear: Int = 8, qStepR: Double = 0.15,
      nAng: Int = 24, smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.3) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageScaleLandmarks(m, kTop, nNear, qStepR, nAng, smoothR, radius,
        minAvg).toDF()
    def stamp = Postings.Stamp(ScaleFpVersion, "constellation", "imageScaleLandmarkIndex")
  }

  /** [[ImageScale]] for the FULL similarity compound — rotated/mirrored
    * AND cropped AND resized (m145): the lower doc's orient-0 codes
    * against any of the higher doc's 8 angle-readouts
    * ([[imageScaleLandmarksOriented]]). Its screen (m146) probes the
    * whole fan against the plain [[ImageScale]] index, unchanged. */
  case class ImageScaleDihedral(kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24) extends Fanned(0.3) with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageScaleLandmarksOriented(m, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg)
    def stamp = Postings.Stamp(ScaleFpVersion, "constellation", "imageScaleLandmarkIndex")
  }

  /** UNKNOWN anisotropic resize (m160): both docs' peak clouds are
    * moment-normalized to isotropic before quad coding
    * ([[imageScaleLandmarksNormalized]]), so an off-fan squeeze lands
    * without enumerating factors. [[ImageScaleAspect]] stays the
    * exact-hypothesis tier for known display conversions; STRONG
    * squeezes (~>= 1.5:1) damage the detected peak set itself and are
    * [[ImageScaleCanonical]]'s. */
  case class ImageScaleNormalized(kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24) extends Peaked(0.3) {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageScaleLandmarksNormalized(m, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg).toDF()
  }

  /** STRONG unknown anisotropic resize (the >= ~1.5:1 class, m165):
    * the IMAGE is resampled to moment-isotropic before detection
    * ([[imageScaleLandmarksCanonical]]). Index stamped
    * [[CanonFpVersion]]. */
  case class ImageScaleCanonical(kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.3) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageScaleLandmarksCanonical(m, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg).toDF()
    def stamp =
      Postings.Stamp(CanonFpVersion, "constellation", "imageCanonicalLandmarkIndex")
  }

  /** The FULL-AFFINE compound (m169, [[imageScaleLandmarksAffine]]):
    * both sides whitened, pairs at the rot tier's lower operating gate
    * (0.2), screens at 0.25. Index stamped [[AffineFpVersion]]. */
  case class ImageAffine(kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.2) with Indexed with Screened {
    override def screenMinMatch: Double = 0.25
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageScaleLandmarksAffine(m, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg).toDF()
    def stamp = Postings.Stamp(AffineFpVersion, "constellation", "imageAffineLandmarkIndex")
  }

  /** ANISOTROPIC resize by known factors (m152): the lower doc's
    * IDENTITY codes against any of the higher doc's aspect-hypothesis
    * readouts ([[imageScaleLandmarksAspect]]); orient is the hypothesis
    * INDEX into `hyps`. The default set covers the two dominant display
    * conversions (4:3 <-> 16:9 both ways); an extra factor costs one
    * geometry pass, not a decode. Screens against the plain
    * [[ImageScale]] index. */
  case class ImageScaleAspect(hyps: Seq[Double] = Seq(1.0, 0.75, 4.0 / 3.0),
      kTop: Int = 16, nNear: Int = 8, qStepR: Double = 0.15, nAng: Int = 24,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24)
      extends Fanned(0.3) with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageScaleLandmarksAspect(m, hyps, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg)
    def stamp = Postings.Stamp(ScaleFpVersion, "constellation", "imageScaleLandmarkIndex")
  }

  /** The FULL similarity group — rotation at ANY angle (m150,
    * [[imageRotScaleLandmarks]]): the skewed-scan / tilted-photo class
    * the 90-degree dihedral fan is blind to. Mirrored re-uploads stay
    * with the fan (reflection flips the chirality bits by design —
    * folding them out would halve the code entropy). Index stamped
    * [[RotScaleFpVersion]]. */
  case class ImageRotScale(kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.2) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageRotScaleLandmarks(m, kTop, nNear, qStepR, nAng, smoothR, radius,
        minAvg).toDF()
    def stamp =
      Postings.Stamp(RotScaleFpVersion, "rot-constellation", "imageRotScaleLandmarkIndex")
  }

  /** [[ImageScale]] pooled over sampled video frames (m147): a
    * cropped+rescaled (+trimmed) re-upload scores over the smaller
    * pooled set. Same [[ScaleFpVersion]] as the image index via the
    * shared code kernel. */
  case class VideoScale(every: Int = 2, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.3) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoScaleLandmarks(m, every, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg)
    def stamp = Postings.Stamp(ScaleFpVersion, "constellation", "videoScaleLandmarkIndex")
  }

  /** UNKNOWN anamorphic video re-encodes (m167,
    * [[videoScaleLandmarksCanonical]]); same [[CanonFpVersion]] as the
    * image index via the shared whitened-code kernel. */
  case class VideoScaleCanonical(every: Int = 2, kTop: Int = 16,
      nNear: Int = 8, qStepR: Double = 0.15, nAng: Int = 24,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.3) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoScaleLandmarksCanonical(m, every, kTop, nNear, qStepR, nAng,
        smoothR, radius, minAvg)
    def stamp =
      Postings.Stamp(CanonFpVersion, "constellation", "videoCanonicalLandmarkIndex")
  }

  /** The FULL-AFFINE compound on video (m171, [[videoAffineLandmarks]]):
    * a tilted anamorphic rip at unknown factors. [[AffineFpVersion]]
    * via the shared whitened rot-code kernel. */
  case class VideoAffine(every: Int = 2, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.25) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoAffineLandmarks(m, every, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg)
    def stamp = Postings.Stamp(AffineFpVersion, "constellation", "videoAffineLandmarkIndex")
  }

  /** ANAMORPHIC video re-encodes by known factors (m156): the
    * [[ImageScaleAspect]] fan pooled per sampled frame
    * ([[videoScaleLandmarksAspect]]); screens against the plain
    * [[VideoScale]] index. */
  case class VideoScaleAspect(hyps: Seq[Double] = Seq(1.0, 0.75, 4.0 / 3.0),
      every: Int = 2, kTop: Int = 16, nNear: Int = 8, qStepR: Double = 0.15,
      nAng: Int = 24, smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24)
      extends Fanned(0.3) with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoScaleLandmarksAspect(m, hyps, every, kTop, nNear, qStepR, nAng,
        smoothR, radius, minAvg)
    def stamp = Postings.Stamp(ScaleFpVersion, "constellation", "videoScaleLandmarkIndex")
  }

  /** Rotation at ANY angle + uniform scale + trim on video (m154,
    * [[videoRotScaleLandmarks]]); same [[RotScaleFpVersion]] as the
    * image rot index via the shared code kernel. */
  case class VideoRotScale(every: Int = 2, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.2) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoRotScaleLandmarks(m, every, kTop, nNear, qStepR, nAng, smoothR,
        radius, minAvg)
    def stamp =
      Postings.Stamp(RotScaleFpVersion, "constellation", "videoRotScaleLandmarkIndex")
  }

  /** The CROP x FULL-AFFINE compound (m174,
    * [[imageAffineFrameLandmarks]]). Default gate (minMatch 0.02 AND
    * minShared 16) from the measured operating point at qStep 0.3: the
    * worst planted 75%-crop x 17 deg x 1.4:1 compound scored 0.0398
    * with 53 shared codes, the worst fresh decoy 4 shared (~0.003) — a
    * ~10x margin on both axes. Index stamped [[AffineFrameFpVersion]]. */
  case class ImageAffineFrame(kTop: Int = 48, nNear: Int = 8,
      nBasis: Int = 4, qStep: Double = 0.3, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24, nPts: Int = 3)
      extends Peaked(0.02, 16) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageAffineFrameLandmarks(m, kTop, nNear, nBasis, qStep, smoothR,
        radius, minAvg, nPts).toDF()
    def stamp =
      Postings.Stamp(AffineFrameFpVersion, "constellation", "imageAffineFrameIndex")
  }

  /** The CROP x ROTATION x EXTREME-SQUEEZE compound (m184,
    * [[imageAffineFrameLandmarksSqueezeFan]]): the lower doc's identity
    * codes against the higher doc's identity and de-squeeze readouts.
    * [[ImageAffineFrame]] holds through ~2.5:1 and drops to 4/12 over
    * 3.0-4.0:1; the fan lands 9/12 there at the same gate with zero
    * spurious. Its screen (m189) fans the PROBE against the identity
    * [[ImageAffineFrame]] index — no index rebuild. */
  case class ImageAffineFrameSqueezeFan(
      hyps: Seq[Double] = Seq(1.0, 3.0, 3.5, 4.0), kTop: Int = 48,
      nNear: Int = 8, nBasis: Int = 4, qStep: Double = 0.3, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Fanned(0.02, 16) with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageAffineFrameLandmarksSqueezeFan(m, hyps, kTop, nNear, nBasis,
        qStep, smoothR, radius, minAvg)
    def stamp =
      Postings.Stamp(AffineFrameFpVersion, "affine-frame", "imageAffineFrameIndex")
  }

  /** [[ImageAffineFrame]]'s identity codes plus their MIRROR repacks
    * ([[imageAffineFrameLandmarksChiral]], pure Long arithmetic): its
    * screen (m190) flags a mirrored crop x affine re-upload against the
    * identity [[ImageAffineFrame]] index — masters never mirror. */
  case class ImageAffineFrameChiral(kTop: Int = 48, nNear: Int = 8,
      nBasis: Int = 4, qStep: Double = 0.3, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Fanned(0.02, 16) with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageAffineFrameLandmarksChiral(m, kTop, nNear, nBasis, qStep, smoothR,
        radius, minAvg)
    def stamp =
      Postings.Stamp(AffineFrameFpVersion, "affine-frame", "imageAffineFrameIndex")
  }

  /** [[ImageAffineFrame]] with each code's anchor (ax, ay) — the verified
    * tiers' landmark table ([[imageAffineFrameLandmarksAnchored]]). Its
    * index rows are the plain index rows PLUS the anchors, so
    * [[dedupAgainstImageAffineFrameIndexVerified]] can both equi-join
    * candidates AND rebuild per-master anchor clouds without the
    * corpus media; same [[AffineFrameFpVersion]] (the code space is
    * identical). */
  case class ImageAffineFrameAnchored(kTop: Int = 48, nNear: Int = 8,
      nBasis: Int = 4, qStep: Double = 0.3, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24, nPts: Int = 3) extends Indexed {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      imageAffineFrameLandmarksAnchored(m, kTop, nNear, nBasis, qStep,
        smoothR, radius, minAvg, nPts)
    override def keys = Seq("lm", "ax", "ay")
    def stamp =
      Postings.Stamp(AffineFrameFpVersion, "anchored affine-frame", "imageAffineFrameAnchorIndex")
  }

  /** [[ImageAffineFrame]] pooled over sampled video frames (m177,
    * [[videoAffineFrameLandmarks]]) — the m174 gate over per-video code
    * sets; [[AffineFrameFpVersion]] via the shared code kernel. */
  case class VideoAffineFrame(every: Int = 2, kTop: Int = 48,
      nNear: Int = 8, nBasis: Int = 4, qStep: Double = 0.3, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24)
      extends Peaked(0.02, 16) with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoAffineFrameLandmarks(m, every, kTop, nNear, nBasis, qStep,
        smoothR, radius, minAvg)
    def stamp =
      Postings.Stamp(AffineFrameFpVersion, "constellation", "videoAffineFrameIndex")
  }

  /** [[ImageAffineFrameSqueezeFan]] at the frame sequence (m191,
    * [[videoAffineFrameLandmarksSqueezeFan]]). */
  case class VideoAffineFrameSqueezeFan(
      hyps: Seq[Double] = Seq(1.0, 3.0, 3.5, 4.0), every: Int = 2,
      kTop: Int = 48, nNear: Int = 8, nBasis: Int = 4, qStep: Double = 0.3,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24)
      extends Fanned(0.02, 16) {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoAffineFrameLandmarksSqueezeFan(m, hyps, every, kTop, nNear,
        nBasis, qStep, smoothR, radius, minAvg)
  }

  /** [[VideoAffineFrame]] with each code's anchor — the video verified
    * tiers' landmark table ([[videoAffineFrameLandmarksAnchored]]). */
  case class VideoAffineFrameAnchored(every: Int = 2, kTop: Int = 48,
      nNear: Int = 8, nBasis: Int = 4, qStep: Double = 0.3, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24) extends Family {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoAffineFrameLandmarksAnchored(m, every, kTop, nNear, nBasis, qStep,
        smoothR, radius, minAvg)
  }

  /** Frame-aligned video pHash families scored by
    * [[videoChunkPairScores]]: `hashes` shapes the materialized
    * per-frame hashes into (doc_id, frame_idx, h) rows; `multi`
    * (several rows per doc and frame) drops same-doc pairs. */
  sealed abstract class Framed(multi: Boolean, distinctDocs: Boolean)
      extends Paired {
    override def minMatch: Double = 0.8
    protected def hashes(hashed: DataFrame): DataFrame
    private[operators] def scores(lms: => DataFrame, minMatch: Double,
        maxDf: Int, minShared: Int, maxDist: Int): DataFrame = {
      requireChunkRecall(maxDist)
      val hashed = lms
      videoChunkPairScores(hashes(hashed), hashed, maxDist, minMatch, maxDf,
        multi, distinctDocs)
    }
  }

  /** Frame-ALIGNED video pHash (m78 per frame): two videos match when
    * >= `minMatch` of their sampled frames (over the smaller sample
    * count) agree at the same frame index within hamming `maxDist`.
    * Candidates come from (frame_idx, 16-bit chunk) buckets; `maxDf`
    * drops buckets shared by more than that many videos — black/intro
    * frames are the hot keys, the same skew class as silence in the
    * audio tier. Indexed by [[videoChunkIndex]], screened by
    * [[dedupAgainstVideoIndex]]. */
  case class VideoFrames(every: Int = 2) extends Framed(false, false) {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoFramePHash(m, every).toDF()
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.select(col("doc_id"), col("frame_idx"), col("ph"))
  }

  /** [[VideoFrames]] tolerant to HORIZONTAL MIRRORING — every pirate
    * mirror-flip defeats exact, plain-pHash AND landmark dedup at once:
    * each sampled frame contributes its as-is and mirrored-grid hashes,
    * a frame pair matches when ANY orientation combo is within
    * `maxDist`, frames count once. The cap counts ROWS: a doc
    * contributes up to TWO rows per (frame_idx, chunk) — halve the
    * intended doc cap when tuning maxDf. */
  case class VideoFramesFlip(every: Int = 2) extends Framed(true, false) {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoFramePHashBoth(m, every).toDF()
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.select(col("doc_id"), col("frame_idx"), col("ph").as("h"))
        .unionByName(hashed.select(col("doc_id"), col("frame_idx"),
          col("phf").as("h")))
  }

  /** [[VideoFramesFlip]] extended to the FULL dihedral-8 set — the
    * phone-ROTATED video re-upload (and rotate+mirror): all eight
    * orientation hashes of each sampled frame enter the posting lists.
    * The cap counts DISTINCT docs per bucket, so a [[VideoFrames]]-tuned
    * value carries over despite the 8x rows. */
  case class VideoFramesDihedral(every: Int = 2) extends Framed(true, true) {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoFramePHashDihedral(m, every).toDF()
    protected def hashes(hashed: DataFrame): DataFrame =
      hashed.select(col("doc_id"), col("frame_idx"), explode(col("hs")).as("h"))
  }

  /** Consecutive sampled-frame hash pairs ([[videoLandmarks]]) — the
    * TIME-SHIFT video tier, the [[AudioLandmark]] shape: a trimmed
    * copy keeps every interior landmark. `maxDf` drops landmarks shared
    * by more than that many videos — repeated black/title frame pairs
    * are the hot key. Re-encode drift is [[videoLandmarkPairsTolerant]]'s. */
  case class VideoShift(every: Int = 2) extends Coded {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoLandmarks(m, every).toDF()
    override def keys = Seq("lm_a", "lm_b")
  }

  /** Run-collapsed gap-pair landmarks ([[videoLandmarksSkip]]) — the
    * FRAME-RATE CONVERSION tier (m122): a 30->24 fps re-upload (every
    * 5th frame dropped) or a 24->30 one (every 4th duplicated), where
    * [[VideoShift]] at its default stride provably collapses below
    * threshold (parity flip). Down-conversion floor: ~1/4 of probe
    * landmarks miss per dropped-frame period (measured 0.773585 at 5/4
    * — don't tune minMatch above it); up-conversion collapses exactly.
    * Index stamped [[VideoSkipFpVersion]]. */
  case class VideoSkip(gap: Int = 2, every: Int = 1)
      extends Coded with Indexed with Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoLandmarksSkip(m, gap, every).toDF()
    override def keys = Seq("lm_a", "lm_b")
    def stamp = Postings.Stamp(VideoSkipFpVersion, "video skip", "videoSkipLandmarkIndex")
  }

  /** Per-window video landmarks ([[videoLandmarksCrop]]) — the m130
    * crop tier. Pairs: [[videoLandmarkPairsCrop]]; index:
    * [[videoCropLandmarkIndex]]. The screen keeps the probe's FULL-FRAME
    * channel only (win 0 — a cropped re-upload arrives as a whole
    * video; `extended` is an index-side knob) and scores each corpus
    * window channel separately. */
  case class VideoCrop(every: Int = 2, extended: Boolean = false)
      extends Screened {
    protected def extract(m: DataFrame)(implicit s: SparkSession): DataFrame =
      videoLandmarksCrop(m, every, extended).toDF()
    override def keys = Seq("lm_a", "lm_b")
    override def per = Seq("win")
    def stamp = Postings.Stamp(VideoCropFpVersion, "video crop", "videoCropLandmarkIndex")
    override private[operators] def probes(m: DataFrame): DataFrame =
      videoLandmarksCrop(m, every, extended = false)(m.sparkSession).toDF()
    override private[operators] def screenRows(rows: => DataFrame,
        index: DataFrame, minMatch: Double, minShared: Int, maxDist: Int,
        maxDf: Int): DataFrame =
      screenLandmarkIndex(rows.filter(col("win") === 0), index, minMatch,
        minShared, stamp, keys, per)
  }

  /** Near-duplicate pairs of `media` under family `f`, scored over its
    * landmarks. Gates default to the family's; `maxDf` (0 = uncapped,
    * [[AutoDf]] = solved where the scorer can) drops posting keys held
    * by more than that many documents before pair expansion. */
  def pairs(f: Paired)(media: DataFrame, minMatch: Double = f.minMatch,
      maxDf: Int = 0, minShared: Int = f.minShared,
      maxDist: Int = f.maxDist): DataFrame =
    f.scores(Materialize.eager(f.landmarks(media)), minMatch, maxDf,
      minShared, maxDist)

  /** Persisted index of `media` under family `f` — build once, then
    * [[screen]] every ingest batch with the same family value. */
  def index(f: Indexed)(media: DataFrame): DataFrame =
    f.indexRows(Materialize.eager(f.landmarks(media)))

  /** Screen an ingest batch against a persisted index of family `f`:
    * fail-fast stamp gate (before any probe decode), then one verdict
    * row (doc_id, kept, dup_src = lowest matching corpus doc) per probe
    * that yields landmarks — a caller needing a verdict per raw input
    * left-joins from the raw batch ids. */
  def screen(f: Screened)(media: DataFrame, index: DataFrame,
      minMatch: Double = f.screenMinMatch, minShared: Int = f.minShared,
      maxDist: Int = f.maxDist, maxDf: Int = 0): DataFrame =
    f.screenRows(Materialize.eager(f.probes(media)), index, minMatch,
      minShared, maxDist, maxDf)
}
